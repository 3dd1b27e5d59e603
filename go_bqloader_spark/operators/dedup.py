"""Document deduplication operators behind the query registry's near-dup
leaves (``plans/queries.py``).

All-JVM implementations (no Python in the row path) built to scale: cost
is linear in candidate pairs — never all-pairs.

- :func:`blocked_self_join` — skew-proof within-bucket self-join
  scaffolding; the ``minhash_lsh`` leaf generates its band-bucket
  candidate pairs through it.
- :func:`connected_components` — candidate-pair graph → duplicate
  clusters (contract-then-iterate min-label propagation); the
  ``dedup_clusters`` leaf ends in it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def blocked_self_join(
    df: DataFrame,
    bucket_cols: Sequence[str],
    order_col: str,
    chunk: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Skew-proof within-bucket self-join scaffolding (guide §2.5).

    A plain self-join on ``bucket_cols`` lands each bucket's quadratic
    pair generation on ONE task — a 30k-member dup-family bucket is
    ~450M pairs in a single straggler while the rest of the cluster
    idles (measured: minhash_lsh 1784 s at sf1.0). This splits every
    bucket into ``chunk``-sized slices in ``order_col`` order and turns
    each slice-pair (i <= j) into an independent equi-join key, so a
    bucket of size S spreads over ~(S/chunk)²/2 tasks.

    Returns ``(left, right)``: join them on
    ``[*bucket_cols, "__ci", "__cj"]`` and apply the usual
    ``left.order_col < right.order_col`` filter. Every unordered pair
    within a bucket meets on exactly one (ci, cj) key (slices are
    ordered by ``order_col``, so the smaller element's slice is ci),
    hence no duplicates are introduced. Buckets of size <= ``chunk``
    have a single slice → replication factor 1 (no overhead); only
    oversized buckets pay the fan-out, and only O(S/chunk) extra narrow
    rows per row cross the shuffle."""
    wb = W.partitionBy(*bucket_cols)
    sized = df.withColumn(
        "__ci",
        ((F.row_number().over(wb.orderBy(order_col)) - 1) / chunk).cast("int"),
    ).withColumn(
        "__nch", F.ceil(F.count(F.lit(1)).over(wb) / chunk).cast("int")
    )
    left = sized.withColumn(
        "__cj", F.explode(F.expr("sequence(__ci, __nch - 1)"))
    ).drop("__nch")
    right = (
        sized.withColumnRenamed("__ci", "__cj")
        .withColumn("__ci", F.explode(F.expr("sequence(0, __cj)")))
        .drop("__nch")
    )
    return left, right


def _min_root_labels(rows) -> list[tuple]:
    """Exact min-root union-find over collected (a, b) edge rows:
    returns [(node, component_min)] for every node that appears in an
    edge (singletons are absent — callers coalesce to the node id).
    Union-by-value keeps the smaller root, so each tree's root IS the
    component minimum at every step."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row["a"]), find(row["b"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in list(parent)]


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "d1",
    dst: str = "d2",
    id_col: str = "id",
    max_iter: int = 25,
    driver_finish_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph — the
    final step of corpus near-dedup (pairs → duplicate CLUSTERS → keep one
    representative per cluster). Returns ``(id, cluster_id)`` where
    ``cluster_id`` is the minimum member id (the canonical representative).

    Contract-then-iterate min-label propagation:

    1. ONE hop over the full edge set: every node adopts the min label
       among itself and its neighbors. Dedup candidate graphs are dense
       clique-ish families, so most components collapse to their min id
       right here.
    2. CONTRACT: re-express the edges between current labels and drop
       self-loops/duplicates. Cliques vanish entirely; what survives is
       the (tiny) quotient graph of not-yet-merged label classes — at
       sf0.1 this is 9.4M edges → a few thousand.
    3. Resolve the quotient graph: below ``driver_finish_max_edges``
       (r6) an exact min-root union-find runs on the driver over the
       collected quotient edges — bounded metadata (narrow label pairs,
       ~16 MB at the default gate), replacing ~4 Spark jobs per
       iteration round with one collect. Above the gate, iterate
       jump+hop rounds on the contracted graph only: each round a label
       first adopts the current label OF its label (pointer jumping /
       path compression — O(log diameter) rounds), then the min over
       its quotient-graph neighbors. Per-round cost is label-sized, not
       edge-sized — the full edge set is scanned O(1) times total
       instead of O(rounds).
    4. Compose: final(a) = contracted_label(hop1_label(a)).

    The driver loop checks a scalar convergence count per round (one
    small aggregate — the canonical Spark iterative-algorithm shape, same
    as MLlib/GraphX; the DATA never leaves executors) and localCheckpoints
    each round to keep the plan from growing superlinearly. Raises
    ``RuntimeError`` if ``max_iter`` rounds exhaust before the fixpoint —
    returning partial labels would silently split clusters (ADVICE r3).
    """
    # materialize the (static) edge list once — every round joins it, and
    # without this the upstream pair-generation pipeline (LSH, signature
    # join, ...) would re-execute per round
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint(eager=True)
    )
    if vertices is not None:
        nodes = vertices.select(F.col(id_col).alias("a")).distinct()
    else:
        nodes = und.select("a").distinct()
    identity = nodes.select("a", F.col("a").alias("lbl"))

    # (0 — r6b) early driver finish: ``und`` is already materialized, so
    # counting it is one tiny job. Below the gate the hop/contract
    # machinery (2 join jobs + 2 checkpoints, each label-sized but each
    # paying full Spark job latency) is skipped outright: collect the
    # bounded edge list, run the same exact min-root union-find, and
    # label every vertex with one broadcast join. Same bounded-metadata
    # rule and the same gate as the quotient-graph finish below. ``und``
    # holds both directions of every edge and any repeated edges, while
    # union-find needs each edge once in one direction, so the gate counts
    # and the driver collects only the distinct ``a <= b`` edges: at most
    # ``driver_finish_max_edges`` rows. The distributed path above the
    # gate — the 10^10-doc shape — is unchanged.
    one_way = und.filter(F.col("a") <= F.col("b")).distinct()
    if one_way.count() <= driver_finish_max_edges:
        mapping = _min_root_labels(one_way.collect())
        spark = edges.sparkSession
        a_type = und.schema["a"].dataType.simpleString()
        if mapping:
            lbl_df = spark.createDataFrame(mapping, f"a {a_type}, lbl {a_type}")
        else:
            lbl_df = und.select("a", F.col("a").alias("lbl")).limit(0)
        cl = lbl_df.select(F.col("a").alias("__n"), F.col("lbl").alias("__l2"))
        return (
            nodes.join(F.broadcast(cl), nodes["a"] == cl["__n"], "left")
            .select(
                F.col("a").alias(id_col),
                F.coalesce("__l2", "a").alias("cluster_id"),
            )
        )

    # (1) one hop over the full edge set (initial labels are the ids, so
    # nbr_min is just min(neighbor id) — no label join needed yet)
    nbr_min = (
        und.groupBy("b").agg(F.min("a").alias("nlbl"))
        .select(F.col("b").alias("a"), "nlbl")
    )
    l1 = (
        identity.join(nbr_min, "a", "left")
        .select("a", F.least("lbl", "nlbl").alias("lbl"))
        .localCheckpoint(eager=True)
    )

    # (2) contract edges to the label quotient graph (map-side distinct
    # collapses the clique bulk before the shuffle)
    la = l1.select(F.col("a").alias("__a"), F.col("lbl").alias("la"))
    lb = l1.select(F.col("a").alias("__b"), F.col("lbl").alias("lb"))
    cund = (
        und.join(la, und["a"] == la["__a"])
        .join(lb, und["b"] == lb["__b"])
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # (3a — r6) driver finish for small quotient graphs: after the
    # contraction the graph is the residue of not-yet-merged label
    # classes — a few thousand edges at every tested scale (cliques
    # vanish in step 1/2). The jump+hop loop below costs ~4 tiny Spark
    # jobs PER ROUND plus localCheckpoints — pure driver-side job
    # overhead when the data is kilobytes. Below the size gate the
    # quotient edges are collected (bounded: <= driver_finish_max_edges
    # narrow pairs, ~16 MB at the default) and resolved with an exact
    # union-find keeping the min member as root — identical labels to
    # the loop's fixpoint, measured ~4 s faster at sf1.0. Above the
    # gate the label-sized iterate loop runs unchanged (the 10^10-doc
    # shape).
    n_cedges = cund.count()
    if n_cedges <= driver_finish_max_edges:
        mapping = _min_root_labels(cund.collect())
        spark = edges.sparkSession
        a_type = cund.schema["a"].dataType.simpleString()
        if mapping:
            labels = spark.createDataFrame(
                mapping, f"a {a_type}, lbl {a_type}"
            )
        else:
            labels = cund.select("a", F.col("a").alias("lbl")).limit(0)
        cl = labels.select(F.col("a").alias("__n"), F.col("lbl").alias("__l2"))
        return (
            l1.join(F.broadcast(cl), l1["lbl"] == cl["__n"], "left")
            .select(
                F.col("a").alias(id_col),
                F.coalesce("__l2", "lbl").alias("cluster_id"),
            )
        )

    # (3) jump+hop rounds on the contracted graph
    labels = (
        cund.select("a").distinct()
        .select("a", F.col("a").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # jump: lbl <- current label of lbl (labels is materialized, so
        # this self-join costs O(|labels|); least() keeps monotonicity
        # and ignores the null from isolated-label misses)
        mp = labels.select(F.col("a").alias("__n"), F.col("lbl").alias("__l2"))
        jumped = labels.join(
            mp, labels["lbl"] == mp["__n"], "left"
        ).select("a", F.least("lbl", "__l2").alias("lbl"), F.col("lbl").alias("old"))
        # hop: min over quotient-graph neighbors' (jumped) labels
        nbr = (
            cund.join(jumped.select("a", "lbl"), "a")
            .groupBy(F.col("b").alias("a"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            jumped.join(nbr, "a", "left")
            .select("a", F.least("lbl", "nlbl").alias("lbl"), "old")
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("lbl") != F.col("old")).limit(1).count()
        labels = new_labels.select("a", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(quotient-graph diameter exceeds 2^max_iter after pointer "
            "jumping); raise max_iter — partial labels would split clusters"
        )

    # (4) compose: nodes whose hop-1 label was already final (fully
    # collapsed families, singletons) miss the contracted map — keep l1
    cl = labels.select(F.col("a").alias("__n"), F.col("lbl").alias("__l2"))
    return (
        l1.join(cl, l1["lbl"] == cl["__n"], "left")
        .select(
            F.col("a").alias(id_col),
            F.coalesce("__l2", "lbl").alias("cluster_id"),
        )
    )
