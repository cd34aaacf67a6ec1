"""Connected components over the duplicate-pair graph — the iterative
refinement of the clean-corpus pipeline (transitive duplicate groups:
if A~B and B~C, all three form one group even when A~C wasn't found).

Label propagation: every doc starts with label=doc_id; each round a
doc takes the min label among itself and its neighbors; fixpoint in at
most diameter rounds. Driver-side loop over DataFrames (the standard
Spark shape for iterative algorithms — Pregel-style supersteps); each
iteration is one shuffle-bounded join+agg, convergence checked with a
cheap count.

The fixpoint IS SQL-expressible via a recursive CTE (reachability
closure then min per node), so the registered query carries a DuckDB
`WITH RECURSIVE` oracle (`DUP_GROUPS_ORACLE`) — the oracle enumerates
reachable-node sets (fine at oracle scale), while the Spark side stays
the shuffle-bounded label-propagation loop that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apd_map_reduce_spark.functions.text import TOKENS_SQL, tokenize_normalized
from apd_map_reduce_spark.plans.layout import spread


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """pairs(doc_a, doc_b) undirected → DataFrame[doc_id, component]
    where component = min doc_id reachable. Only docs appearing in
    pairs are returned (isolated docs are their own components
    trivially).

    Each round does a min-over-neighbors hop followed by a pointer
    jump (label := label of one's label) — the hop alone needs
    diameter-many rounds, the jump compresses label chains so the
    combined round count is O(log diameter). Every label value is the
    id of a node in the same component and labels only ever decrease,
    so convergence is detected by an unchanged SUM(label) (one cheap
    one-row agg per round, no join). `max_iter` counts label-CHANGING
    rounds: a fixpoint is only confirmed by one further round that
    changes nothing, so the loop runs at most `max_iter + 1` rounds.
    Raises RuntimeError if labels still change in round `max_iter + 1`
    — silently returning partial labels would hand callers wrong
    transitive groups with no signal.

    Driver-loop cost posture (r13, measured at sf0.01 AND sf1):
      * The doubled edge list is built by ONE explode over the pair
        relation, not `pairs.select ∪ pairs.select` — the union form
        re-evaluates the entire upstream pair pipeline (exact-dup +
        MinHash LSH when called from `dup_groups`) once per branch,
        because cross-branch exchange reuse cannot unify the two
        differently-projected subtrees.
      * SELF-LOOPS (v,v) ride along in the same explode: with every
        node guaranteed one incident edge to itself, min-over-neighbors
        already includes the node's own label, so the hop needs no
        merge join back onto `labels`, and the pointer jump's lookup
        always finds its target — both per-round left joins (and their
        coalesce) drop out. One join + one agg + one self-join per
        round instead of three joins.
      * Edges are hash-partitioned on the join key (`dst`) once and
        CACHED — `cache()` (InMemoryRelation) preserves
        outputPartitioning, so no round re-shuffles the O(|E|) side;
        `localCheckpoint` would NOT (its LogicalRDD scan loses the
        partitioning — verified empirically, the groupBy above a
        checkpointed repartition re-inserts an Exchange). Labels stay
        per-round `localCheckpoint`ed: they are the self-referencing
        relation whose plan would otherwise double every round (the
        jump references hop twice), and they are O(|V|) — re-shuffling
        them is the cheap part.
      * The checkpoint is LAZY (`eager=False`) and the convergence agg
        is the action that materializes it — one driver job per round,
        not checkpoint-job + agg-job. The initial SUM is skipped: any
        non-empty edge set strictly decreases SUM(label) in round 1
        (the larger endpoint of any edge adopts the smaller id), so
        comparing from round 2 is sound; an empty input converges at
        round 2 on NULL == NULL. Round 1 thus never confirms a fixpoint,
        which is why the confirming round is not charged to `max_iter`."""
    sc = pairs.sparkSession.sparkContext
    both_dirs = F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
        F.struct(F.col("doc_a").alias("src"), F.col("doc_a").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_b").alias("dst")),
    )
    edges = (
        pairs.select(F.explode(both_dirs).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .repartition(sc.defaultParallelism, "dst")
        .cache()
    )
    labels = edges.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("doc_id"), F.col("src").alias("component")
    )
    prev_sum: object = ()  # sentinel: never equals a SQL sum (long or NULL)
    converged = False
    for _ in range(max_iter + 1):
        hop = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .select(F.col("src").alias("doc_id"), "component")
        )
        # Pointer jump: component := component's own current component.
        # Label values are node ids of the same component (inductively:
        # they start as own ids and only adopt neighbors' label values),
        # so the lookup stays within the component and only decreases;
        # every label value is a node id and every node appears in hop
        # (self-loops), so the inner join always matches.
        parent = hop.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        new_labels = (
            hop.join(parent, hop.component == parent.p_id)
            .select(
                "doc_id",
                F.least(F.col("component"), F.col("p_comp")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("component")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            # No element moved in a full hop+jump round (labels are
            # element-wise non-increasing), so the hop step is at its
            # fixpoint: labels are constant per component (= min id).
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components: labels still changing after {max_iter} "
            "rounds (component diameter exceeds max_iter); labels would be wrong"
        )
    return labels


def dup_groups(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Transitive duplicate groups from exact + MinHash near-dup pairs:
    DataFrame[doc_id, component, group_size]."""
    from apd_map_reduce_spark.operators.dedup import dedup_exact, minhash_lsh_pairs

    exact_pairs = (
        dedup_exact(docs)
        .filter(F.col("n_copies") > 1)
        .join(docs.select("doc_id", F.md5("text").alias("content_hash")), "content_hash")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
        .select(F.col("keep_doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    near_pairs = minhash_lsh_pairs(docs, threshold=threshold).select("doc_a", "doc_b")
    comp = connected_components(exact_pairs.unionAll(near_pairs))
    # Group size via an unordered window over the same key: one
    # exchange on `component`, vs groupBy+join-back = two (agg exchange
    # + re-exchange of comp for the join). Same rows, same types.
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id", "component", F.count(F.lit(1)).over(w).alias("group_size")
    )


def _dup_groups_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin of `dup_groups`: same pair SQL as the MinHash oracle,
    closed transitively with a recursive reachability CTE; component =
    min reachable doc_id (exactly the label-propagation fixpoint)."""
    from apd_map_reduce_spark.operators.dedup import _minhash_oracle

    # CTE names are tg_-prefixed: the embedded minhash oracle brings its
    # own WITH list (pairs, exact, cnt, ...) and CTE names in the outer
    # list would shadow them inside the nested subquery. tg_edges is
    # MATERIALIZED: inlined, DuckDB re-runs the whole MinHash oracle in
    # every step of the recursive tg_reach (~9x slower at sf0.01).
    return f"""
WITH RECURSIVE
tg_near AS (SELECT doc_a, doc_b FROM ({_minhash_oracle(threshold)}) n),
tg_dig AS (SELECT doc_id, md5(text) AS ch FROM documents),
tg_clus AS (
  SELECT ch, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM tg_dig GROUP BY ch
),
tg_exact AS (
  SELECT c.keep_id AS doc_a, d.doc_id AS doc_b
  FROM tg_clus c JOIN tg_dig d ON c.ch = d.ch
  WHERE c.n_copies > 1 AND d.doc_id <> c.keep_id
),
tg_pairs AS (SELECT doc_a, doc_b FROM tg_exact UNION SELECT doc_a, doc_b FROM tg_near),
tg_edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM tg_pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM tg_pairs
),
tg_reach AS (
  SELECT src AS doc_id, src AS r FROM tg_edges
  UNION
  SELECT e.src AS doc_id, w.r AS r
  FROM tg_edges e JOIN tg_reach w ON w.doc_id = e.dst
),
tg_comp AS (SELECT doc_id, MIN(r) AS component FROM tg_reach GROUP BY doc_id)
SELECT tg_comp.doc_id, tg_comp.component, sz.group_size
FROM tg_comp
JOIN (
  SELECT component, COUNT(*) AS group_size
  FROM tg_comp GROUP BY component
) sz USING (component)
"""


DUP_GROUPS_ORACLE = _dup_groups_oracle()


def canonical_selection(
    docs: DataFrame,
    threshold: float = 0.5,
    groups: DataFrame | None = None,
) -> DataFrame:
    """Pick the document to KEEP from each transitive duplicate group:
    the longest copy (token count), ties to the lowest doc_id — the
    realistic curation policy ("keep the most complete version"), vs
    dedup_exact's min-id-wins which is only right for byte-identical
    copies.

    Returns one row per group: (component, group_size, keep_doc_id,
    n_tokens). Selection is integer-exact (token counts + ids — no
    float comparisons), so the DuckDB twin is hash-stable.

    Scale: dup_groups' component relation joins a narrow per-doc token
    count, then one window per component (components are small by
    construction — near-dup cliques); no global sort.

    `groups` (optional): a precomputed `dup_groups(docs, threshold)`
    relation — pass it when the caller already ran the closure (the
    component computation is an iterative driver loop Catalyst cannot
    deduplicate across two calls)."""
    if groups is None:
        groups = dup_groups(docs, threshold=threshold)
    # spread() first (dedup-family rule): the tokenizer is per-row CPU
    # and a low-split scan would serialize it into one task.
    ntok = spread(docs).select(
        "doc_id", F.size(tokenize_normalized("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        groups.join(ntok, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "group_size",
            F.col("doc_id").alias("keep_doc_id"),
            "n_tokens",
        )
    )


def _canonical_selection_oracle(threshold: float = 0.5) -> str:
    return f"""
WITH ranked AS (
  SELECT g.component, g.group_size, g.doc_id, n.n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY g.component ORDER BY n.n_tokens DESC, g.doc_id ASC
         ) AS rn
  FROM ({_dup_groups_oracle(threshold)}) g
  JOIN (
    SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens FROM documents
  ) n USING (doc_id)
)
SELECT component, group_size, doc_id AS keep_doc_id, n_tokens
FROM ranked WHERE rn = 1
"""


CANONICAL_SELECTION_ORACLE = _canonical_selection_oracle()
