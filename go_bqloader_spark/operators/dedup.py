"""Document deduplication operators for training-data pipelines.

All-JVM implementations (xxhash64-based, no Python in the row path) built
to scale: cost is linear in tokens plus candidate-pair verification — never
all-pairs. The oracle-checkable md5 variants live in ``plans/queries.py``;
these are the parameterized library versions.

- :func:`exact_dedup` — hash-groupBy on normalized content.
- :func:`minhash_signatures` / :func:`minhash_candidates` /
  :func:`minhash_dedup` — MinHash + banded LSH: shingle → k min-hashes →
  b bands → bucket-join → signature-similarity filter. One shuffle per
  stage; bands spread hot buckets.
- :func:`simhash64` — 64-bit SimHash via per-bit majority vote over token
  hashes (64 conditional sums inside one hash aggregate; whole-stage
  codegen keeps it a single pass).
- :func:`ngram_jaccard_pairs` — exact word-shingle Jaccard via
  explode + equi-join + group (the verification baseline for MinHash).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _tokens(text_col: str, n_shingle: int = 1) -> Column:
    toks = f"filter(split({text_col}, '\\\\s+'), x -> x <> '')"
    if n_shingle <= 1:
        return F.array_distinct(F.expr(toks))
    # word n-gram shingles: join n consecutive tokens. Spark's
    # sequence(1, 0) yields a DESCENDING [1, 0] (not empty), so docs with
    # fewer than n tokens need the explicit guard or slice(toks, 0, n)
    # throws under ANSI mode.
    return F.array_distinct(
        F.expr(
            f"CASE WHEN size({toks}) >= {n_shingle} "
            f"THEN transform(sequence(1, size({toks}) - {n_shingle - 1}), "
            f"i -> array_join(slice({toks}, i, {n_shingle}), ' ')) "
            f"ELSE CAST(array() AS array<string>) END"
        )
    )


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


def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups on normalized content; representative = min id."""
    fp = F.md5(F.lower(F.trim(F.col(content_col))))
    return (
        df.groupBy(fp.alias("fp"))
        .agg(
            F.min(id_col).alias("rep"),
            F.count(F.lit(1)).alias("n_dupes"),
            F.collect_list(id_col).alias("members"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n_shingle: int = 1,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>) — k min-hashes of the shingle set, computed
    as one explode + one hash aggregate (map-side partial)."""
    tok = df.select(F.col(id_col), F.explode(_tokens(text_col, n_shingle)).alias("tok"))
    aggs = [
        F.min(F.xxhash64(F.lit(seed), F.lit(i), F.col("tok"))).alias(f"h{i}")
        for i in range(k)
    ]
    sig = tok.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def minhash_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    neighbor_window: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    ``neighbor_window=None`` pairs every co-bucketed doc (exact; O(size²)
    per bucket). ``neighbor_window=W`` switches to sorted-neighborhood
    pairing: within each bucket, members sorted by id pair only with
    their next W neighbors — identical output for buckets of size <= W+1
    and O(size × W) beyond, which is the bound that matters at 10^10
    docs where dup-family bucket sizes are heavy-tailed (one 2.7k-doc
    family is 3.7M pairs exact vs 21k at W=8). Windowed pairs chain
    through a family, so downstream CONNECTED-COMPONENT clustering
    recovers the same clusters whenever consecutive (id-sorted) members
    stay above the verify threshold — the regime that creates mega-
    buckets in the first place (near-identical docs). Pure top-k pair
    listings should keep ``None``."""
    k = bands  # slice count; rows-per-band derived from sig length at runtime
    banded = sig.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> xxhash64(b, array_join(slice(sig, b * (size(sig) div {k}) + 1, size(sig) div {k}), ',')))"
            )
        ).alias("band_idx", "bucket"),
    )
    if neighbor_window is not None:
        w = W.partitionBy("band_idx", "bucket").orderBy(id_col)
        nbrs = F.array(
            *[F.lead(id_col, i).over(w) for i in range(1, neighbor_window + 1)]
        )
        return (
            banded.withColumn("__nb", nbrs)
            .select(
                F.col(id_col).alias("d1"),
                F.explode("__nb").alias("d2"),
            )
            .filter(F.col("d2").isNotNull())
            .distinct()
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    n_shingle: int = 1,
    seed: int = 42,
    neighbor_window: int | None = None,
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard ≥ threshold.

    The estimate is the fraction of equal signature components — unbiased
    for Jaccard; candidates come from banded LSH so only colliding pairs
    are compared (broadcastable signature join per pair).
    ``neighbor_window`` bounds per-bucket candidates for heavy-tailed
    dup families (see :func:`minhash_candidates`)."""
    sig = minhash_signatures(df, id_col, text_col, k, n_shingle, seed)
    cand = minhash_candidates(sig, id_col, bands, neighbor_window)
    s1 = sig.select(F.col(id_col).alias("d1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col(id_col).alias("d2"), F.col("sig").alias("sig2"))
    est = F.expr(
        "aggregate(zip_with(sig1, sig2, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, v) -> a + v)"
    ) / F.lit(k)
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard")
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seed: int = 42
) -> DataFrame:
    """(id, simhash bigint): per-bit majority over token hashes — near-dups
    have small Hamming distance; exact buckets via equality, radius-1/2
    search via bit-flip probing."""
    tok = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
    h = F.xxhash64(F.lit(seed), F.col("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = bit * F.lit(1 << i).cast("bigint") if i < 63 else F.when(
            F.col("b63") > 0, F.lit(-(1 << 63)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (popcount via
    bit_count on the XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_shingle: int = 3,
    df_cap: int | None = 50,
) -> DataFrame:
    """Exact shingle-set Jaccard pairs ≥ threshold (explode + join + group;
    shuffles on shingle then pair — no cross join).

    Defaults are the scale-safe shape: 3-word shingles (a unigram equi-join
    is quadratic on hot tokens — a token in D docs makes D²/2 join rows)
    plus a document-frequency cap that drops shingles present in more than
    ``df_cap`` docs from the candidate universe (they carry no near-dup
    signal). Jaccard is computed over the capped universe. Pass
    ``n_shingle=1, df_cap=None`` for the classic textbook formulation on
    small corpora."""
    tok = df.select(F.col(id_col), F.explode(_tokens(text_col, n_shingle)).alias("tok"))
    if df_cap is not None:
        rare = (
            tok.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("tok")
        )
        tok = tok.join(rare, "tok")
    # per-doc set size as a window count riding the rows (a separate
    # `sizes` aggregate joined back on d1 AND d2 re-evaluated the whole
    # tokenize→DF-cap pipeline twice more); shuffle-hinted self-join so
    # both sides share one Exchange hashpartitioning(tok) via AQE's
    # ReuseExchange — the pipeline materializes ONCE (see q_minhash_lsh)
    tok = tok.withColumn("sz", F.count(F.lit(1)).over(W.partitionBy(id_col)))
    return (
        tok.alias("a")
        .hint("merge")
        .join(tok.alias("b").hint("merge"), "tok")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max(F.col("a.sz")).alias("s1"),
            F.max(F.col("b.sz")).alias("s2"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("s1") + F.col("s2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


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


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    n_shingle: int = 1,
    seed: int = 42,
    neighbor_window: int | None = None,
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pairs → connected components →
    one representative per cluster. Returns ``(doc_id, cluster_id,
    is_rep)``; downstream keeps ``is_rep`` rows (or joins back to drop
    duplicates). Singleton documents are their own cluster. Set
    ``neighbor_window`` (e.g. 8) on large corpora: candidate pairs chain
    through each bucket instead of exploding quadratically, and the
    component pass restores full clusters."""
    pairs = minhash_dedup(df, id_col, text_col, k, bands, threshold, n_shingle, seed,
                          neighbor_window)
    comp = connected_components(
        pairs, vertices=df.select(id_col), src="d1", dst="d2", id_col=id_col
    )
    return comp.withColumn("is_rep", F.col(id_col) == F.col("cluster_id"))
