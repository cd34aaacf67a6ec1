"""K-means (Lloyd) clustering over the embeddings table.

The Spark side is the scale-correct shape for iterative clustering:
per iteration, centroids are a driver-side k x dim constant (collected
from one groupBy — k*dim values, tiny at any corpus size) broadcast
into the assignment expression as LITERAL arrays, so assignment is a
single scan with zero joins/shuffles; the only shuffle per iteration
is the (cluster, pos)-keyed stats aggregation. This is exactly how
MLlib-style k-means distributes Lloyd: big side streams, small side is
a broadcast constant.

Cross-engine determinism (the whole 2-iteration loop is hash-checked
against a static DuckDB oracle):
  * per-cluster component sums are exact integers (floor(x*1e6), the
    operators/vectors.py label_centroids trick) — order-free;
  * a centroid component is sum_micro / (n * 1e6): ONE IEEE double
    division of exactly-representable integer operands, so Python
    (which feeds the literals back into Spark) and DuckDB (which
    computes it in SQL) agree bitwise;
  * distances are rounded to 6 dp before the argmin, centroid-id
    tie-break, so an ulp can never flip an assignment;
  * clusters that receive no members are DROPPED for the next round
    (mirrored in SQL by the inner join on iteration-1 stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.embeddings import (
    valid_embeddings,
    valid_embeddings_sql,
)
from apd_map_reduce_spark.functions.text import hash60_py
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

_EMB_GUARD = valid_embeddings_sql()

K = 8
DIM = 64
ITERS = 2  # registered query: init -> assign -> recompute -> assign


def _dvec(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _l2(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def init_centroids(k: int = K, dim: int = DIM) -> list[tuple[int, list[float]]]:
    """Deterministic md5-derived starting centroids (same construction
    family as similarity._centroids, distinct seed namespace)."""
    cents = []
    for c in range(k):
        row = []
        for d in range(dim):
            h = hash60_py(f"kmeans:{c}:{d}")
            row.append(round((h / float(1 << 60)) * 2.0 - 1.0, 6))
        cents.append((c, row))
    return cents


def assign_literal_centroids(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], emb_col: str = "embedding"
) -> DataFrame:
    """+ (cluster_id, dist6): nearest centroid by round-6 L2, id
    tie-break. Centroids are literals — assignment is scan-only.

    `_dv` (the double cast) and `_best` (the k-distance sort) are
    materialized per row behind projection barriers: spliced inline,
    the cast re-ran once per centroid and the sort ran twice (once per
    extracted field) — per-row work multiplied by k for no reason."""
    pairs = F.array(
        *[
            F.struct(
                F.round(
                    _l2(F.array(*[F.lit(v) for v in row]), F.col("_dv")), 6
                ).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, row in centroids
        ]
    )
    best = F.element_at(F.array_sort(pairs), 1)
    return (
        emb.withColumn("_dv", _dvec(emb_col))
        .withColumn("_best", best)
        .withColumn("cluster_id", F.col("_best")["cid"])
        .withColumn("dist6", F.col("_best")["d"])
        .drop("_dv", "_best")
    )


def cluster_stats(assigned: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """(cluster_id, pos, n_members, sum_micro) — exact-integer
    component sums, the shuffle step of one Lloyd iteration."""
    exploded = assigned.select(
        "cluster_id", F.posexplode(_dvec(emb_col)).alias("pos0", "x")
    )
    return exploded.groupBy(
        "cluster_id", (F.col("pos0") + 1).cast("long").alias("pos")
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.floor(F.col("x") * F.lit(1e6))).alias("sum_micro"),
    )


def _next_centroids(stats_rows, dim: int = DIM) -> list[tuple[int, list[float]]]:
    """Driver-side: stats rows -> [(cid, centroid)] for NON-EMPTY
    clusters, each component the deterministic sum/(n*1e6) division."""
    by_cid: dict[int, list[float]] = {}
    for r in stats_rows:
        by_cid.setdefault(r["cluster_id"], [0.0] * dim)
        by_cid[r["cluster_id"]][r["pos"] - 1] = r["sum_micro"] / (r["n_members"] * 1e6)
    return sorted((cid, vec) for cid, vec in by_cid.items())


def kmeans_assign(
    emb: DataFrame, k: int = K, iters: int = ITERS, emb_col: str = "embedding"
) -> DataFrame:
    """Full Lloyd loop: returns (vec_id, cluster_id, dist6) after
    `iters` assignment passes (centroids recomputed between passes)."""
    cents = init_centroids(k)
    assigned = assign_literal_centroids(emb, cents, emb_col)
    for _ in range(iters - 1):
        stats = cluster_stats(assigned, emb_col).collect()
        # no points → no stats rows → keep the previous centroids
        # (an empty centroid list would build an untyped empty array
        # expression and fail analysis on the next assignment)
        cents = _next_centroids(stats) or cents
        assigned = assign_literal_centroids(emb, cents, emb_col)
    return assigned.select("vec_id", "cluster_id", "dist6")


def _kmeans_oracle(k: int = K, dim: int = DIM) -> str:
    """Static DuckDB twin of the 2-iteration kmeans_assign: iteration 1
    via centroid-literal lists, stats in exact micro-units, iteration-2
    centroids computed in SQL with the same single double division, and
    the re-assignment via a k-way broadcast (cross join at oracle
    scale) + round-6 argmin with cid tie-break."""
    cents = init_centroids(k, dim)
    cent_literals = ", ".join(
        "[" + ", ".join(f"{v!r}" for v in row) + "]" for _, row in cents
    )
    d1_structs = ", ".join(
        f"{{'d': ROUND(list_distance(cents[{c + 1}], emb), 6), 'cid': CAST({c} AS BIGINT)}}"
        for c in range(k)
    )
    return f"""
WITH cent_t AS (SELECT [{cent_literals}]::DOUBLE[][] AS cents),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         (list_transform(list_sort([{d1_structs}]), s -> s.cid))[1] AS cid1
  FROM embeddings, cent_t
  WHERE {_EMB_GUARD}
),
e1 AS (
  SELECT cid1, unnest(emb) AS x, generate_subscripts(emb, 1)::BIGINT AS pos FROM b
),
st1 AS (
  SELECT cid1 AS cluster_id, pos, COUNT(*)::BIGINT AS n_members,
         SUM(floor(x * 1e6)::BIGINT)::BIGINT AS sum_micro
  FROM e1 GROUP BY 1, 2
),
c1 AS (
  SELECT cluster_id, pos,
         CAST(sum_micro AS DOUBLE) / (CAST(n_members AS DOUBLE) * 1e6) AS c
  FROM st1
),
c1l AS (
  SELECT cluster_id, list(c ORDER BY pos) AS cvec FROM c1 GROUP BY cluster_id
),
d2 AS (
  SELECT b.vec_id, c1l.cluster_id,
         ROUND(list_distance(b.emb, c1l.cvec), 6) AS d
  FROM b, c1l
),
a2 AS (
  SELECT vec_id, cluster_id, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster_id ASC) AS rn
  FROM d2
)
SELECT vec_id, cluster_id, d AS dist6 FROM a2 WHERE rn = 1
"""


PQ_M = 4              # subspaces
PQ_K = 8              # codes per subspace
PQ_SUB = DIM // PQ_M  # dims per subspace


def pq_codebooks(
    m: int = PQ_M, k: int = PQ_K, sub: int = PQ_SUB
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic md5-derived PQ codebooks — one k x sub codebook
    per subspace (namespace 'pq:' keeps them distinct from the k-means
    seeds). Real pipelines train these with per-subspace k-means; the
    assignment machinery below is identical either way."""
    books = []
    for mi in range(m):
        book = []
        for c in range(k):
            row = []
            for d in range(sub):
                h = hash60_py(f"pq:{mi}:{c}:{d}")
                row.append(round((h / float(1 << 60)) * 2.0 - 1.0, 6))
            book.append((c, row))
        books.append(book)
    return books


def pq_assign(emb: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Product-quantization code assignment: split each vector into
    PQ_M contiguous subspaces and snap each to its nearest codebook
    entry — (vec_id, code_1..code_M, qerr6). The PQ code tuple is the
    compressed representation ANN indexes (IVF-PQ) store instead of
    the raw vector: 64 floats -> 4 small ints here.

    Determinism: per-subspace distances are rounded to 6 dp before the
    argmin (code-id tie-break), exactly like the k-means assignment;
    the reported quantization error is the same four rounded doubles
    added in one fixed left-to-right order — deterministic scalar
    arithmetic in both engines.

    Scale: codebooks are literals compiled into the projection —
    assignment is scan-only, zero joins, zero shuffles, and
    column-prunes to (vec_id, embedding)."""
    books = pq_codebooks()
    df = emb
    # Each subspace slice and its k-distance sort are materialized per
    # row behind projection barriers: spliced inline, the cast slice
    # re-ran once per codebook entry and the sort ran twice (once per
    # extracted field) — same fix as assign_literal_centroids.
    for mi, book in enumerate(books):
        df = df.withColumn(
            f"_sub{mi + 1}",
            F.transform(
                F.slice(F.col(emb_col), mi * PQ_SUB + 1, PQ_SUB),
                lambda x: x.cast("double"),
            ),
        )
        pairs = F.array(
            *[
                F.struct(
                    F.round(
                        _l2(F.array(*[F.lit(v) for v in row]), F.col(f"_sub{mi + 1}")),
                        6,
                    ).alias("d"),
                    F.lit(cid).cast("long").alias("cid"),
                )
                for cid, row in book
            ]
        )
        df = df.withColumn(f"_best{mi + 1}", F.element_at(F.array_sort(pairs), 1))
        df = df.withColumn(
            f"code_{mi + 1}", F.col(f"_best{mi + 1}")["cid"]
        ).withColumn(f"_d{mi + 1}", F.col(f"_best{mi + 1}")["d"])
    qerr = F.round(
        F.col("_d1") + F.col("_d2") + F.col("_d3") + F.col("_d4"), 6
    )
    return df.select(
        "vec_id", *[f"code_{i + 1}" for i in range(PQ_M)], qerr.alias("qerr6")
    )


def _pq_oracle() -> str:
    books = pq_codebooks()
    sels = []
    for mi, book in enumerate(books):
        lo, hi = mi * PQ_SUB + 1, (mi + 1) * PQ_SUB
        structs = ", ".join(
            "{'d': ROUND(list_distance(emb[%d:%d], [%s]), 6), 'cid': CAST(%d AS BIGINT)}"
            % (lo, hi, ", ".join(f"{v!r}" for v in row), cid)
            for cid, row in book
        )
        sels.append(f"(list_sort([{structs}]))[1] AS s{mi + 1}")
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  WHERE {_EMB_GUARD}
),
a AS (SELECT vec_id, {", ".join(sels)} FROM b)
SELECT vec_id,
       s1.cid AS code_1, s2.cid AS code_2, s3.cid AS code_3, s4.cid AS code_4,
       ROUND(s1.d + s2.d + s3.d + s4.d, 6) AS qerr6
FROM a
"""


ADC_QUERIES = 10  # probe convention shared with operators/similarity
ADC_TOP_K = 5


def pq_adc_topk(
    emb: DataFrame, n_queries: int = ADC_QUERIES, k: int = ADC_TOP_K
) -> DataFrame:
    """Asymmetric-distance PQ search (the ADC half of IVF-PQ, Jégou et
    al. 2011, "Product Quantization for Nearest Neighbor Search"): rank
    the corpus for each probe vector using ONLY its PQ codes plus a
    per-query lookup table of subspace distances. This is the search
    path that makes `embedding_pq_codes` useful — the corpus side never
    touches raw vectors (4 small ints per row instead of 64 floats),
    which is the memory-bandwidth win PQ exists for.

    Score: adc6 = round(Σ_m round(||q_m − c_m||₂, 6)², 6) — the sum of
    squared per-subspace distances to each code's reconstruction, i.e.
    the exact squared L2 to the quantized neighbor, up to the 6-dp
    rounding of the sub-distances (the same proven-deterministic
    `_l2` ↔ list_distance twin every assignment here uses; squaring a
    rounded double is one multiply of identical values in both
    engines). Ties break on neighbor_id, self-matches excluded, per
    the ANN family convention.

    Scale: the LUTs are n_queries × PQ_K rows per subspace (80 rows
    here) — broadcast dims; the corpus relation is the scan-only
    `pq_assign` projection. Four broadcast hash joins fan the codes
    out to N × n_queries scored rows (linear in N — a query scans
    codes, never vectors). The top-k is TWO-STAGE so no single task
    ever ranks a whole query's N rows: a first window over
    (query_id, code_1) — a deterministic existing column — keeps each
    cell's local top-k (any global top-k row is top-k within its cell,
    so the result is provably identical), then the per-query window
    ranks ≤ PQ_K·k survivors. With Q queries the widest exchange
    carries N·Q rows across Q·PQ_K keys; the Q-key final window sees
    Q·PQ_K·k rows total."""
    books = pq_codebooks()
    codes = pq_assign(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        *[f"code_{mi + 1}" for mi in range(PQ_M)],
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = codes
    for mi, book in enumerate(books):
        sub = F.transform(
            F.slice(F.col("embedding"), mi * PQ_SUB + 1, PQ_SUB),
            lambda x: x.cast("double"),
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(cid).cast("long").alias("code"),
                    F.round(_l2(F.array(*[F.lit(v) for v in row]), sub), 6).alias(
                        "d"
                    ),
                )
                for cid, row in book
            ]
        )
        lut = queries.select(
            "query_id", F.explode(entries).alias("e")
        ).select(
            "query_id",
            F.col("e.code").alias(f"_c{mi + 1}"),
            F.col("e.d").alias(f"_d{mi + 1}"),
        )
        on = [F.col(f"code_{mi + 1}") == F.col(f"_c{mi + 1}")]
        if mi > 0:
            on.append(F.col("query_id") == F.col(f"_q{mi + 1}"))
            lut = lut.withColumnRenamed("query_id", f"_q{mi + 1}")
        scored = scored.join(
            F.broadcast(lut), on[0] if mi == 0 else (on[0] & on[1])
        ).drop(f"_c{mi + 1}", f"_q{mi + 1}")
    adc6 = F.round(
        F.col("_d1") * F.col("_d1")
        + F.col("_d2") * F.col("_d2")
        + F.col("_d3") * F.col("_d3")
        + F.col("_d4") * F.col("_d4"),
        6,
    )
    order = (F.asc("adc6"), F.asc("neighbor_id"))
    pruned = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc6", adc6)
        .withColumn(
            "lrnk",
            F.row_number().over(
                Window.partitionBy("query_id", "code_1").orderBy(*order)
            ),
        )
        .filter(F.col("lrnk") <= k)
    )
    ranked = pruned.withColumn(
        "rnk",
        F.row_number()
        .over(Window.partitionBy("query_id").orderBy(*order))
        .cast("long"),
    )
    return ranked.filter(F.col("rnk") <= k).select(
        "query_id", "rnk", "neighbor_id", "adc6"
    )


def _adc_oracle() -> str:
    books = pq_codebooks()
    luts = []
    for mi, book in enumerate(books):
        lo, hi = mi * PQ_SUB + 1, (mi + 1) * PQ_SUB
        structs = ", ".join(
            "{'code': CAST(%d AS BIGINT), 'c': [%s]}"
            % (cid, ", ".join(f"{v!r}" for v in row))
            for cid, row in book
        )
        luts.append(
            f"lut{mi + 1} AS (\n"
            f"  SELECT query_id, u.code AS code,\n"
            f"         ROUND(list_distance(emb[{lo}:{hi}], u.c), 6) AS d{mi + 1}\n"
            f"  FROM q, (SELECT unnest([{structs}]) AS u)\n"
            f")"
        )
    # Code assignment mirrors _pq_oracle's argmin construction.
    assigns = []
    for mi, book in enumerate(books):
        lo, hi = mi * PQ_SUB + 1, (mi + 1) * PQ_SUB
        structs = ", ".join(
            "{'d': ROUND(list_distance(emb[%d:%d], [%s]), 6), 'cid': CAST(%d AS BIGINT)}"
            % (lo, hi, ", ".join(f"{v!r}" for v in row), cid)
            for cid, row in book
        )
        assigns.append(f"(list_sort([{structs}]))[1] AS s{mi + 1}")
    assign_sql = ", ".join(assigns)
    code_cols = ", ".join(
        f"s{mi + 1}.cid AS code_{mi + 1}" for mi in range(PQ_M)
    )
    luts_sql = ",\n".join(luts)
    return f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE {_EMB_GUARD}),
a AS (SELECT vec_id, {assign_sql} FROM b),
codes AS (SELECT vec_id AS neighbor_id, {code_cols} FROM a),
q AS (SELECT vec_id AS query_id, emb FROM b WHERE vec_id < {ADC_QUERIES}),
{luts_sql},
scored AS (
  SELECT l1.query_id, c.neighbor_id,
         ROUND(l1.d1*l1.d1 + l2.d2*l2.d2 + l3.d3*l3.d3 + l4.d4*l4.d4, 6) AS adc6
  FROM codes c
  JOIN lut1 l1 ON l1.code = c.code_1
  JOIN lut2 l2 ON l2.code = c.code_2 AND l2.query_id = l1.query_id
  JOIN lut3 l3 ON l3.code = c.code_3 AND l3.query_id = l1.query_id
  JOIN lut4 l4 ON l4.code = c.code_4 AND l4.query_id = l1.query_id
  WHERE c.neighbor_id <> l1.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc6 ASC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id, adc6 FROM ranked WHERE rnk <= {ADC_TOP_K}
"""


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return valid_embeddings(load_table(spark, sf_dir, "embeddings"))


CLUSTER_QUERIES = [
    QueryDef(
        "kmeans_lloyd_assign",
        lambda s, d: kmeans_assign(_emb(s, d)),
        _kmeans_oracle(),
    ),
    QueryDef(
        "embedding_pq_codes",
        lambda s, d: pq_assign(_emb(s, d)),
        _pq_oracle(),
    ),
    QueryDef(
        "ann_pq_adc_topk",
        lambda s, d: pq_adc_topk(_emb(s, d)),
        _adc_oracle(),
    ),
]
