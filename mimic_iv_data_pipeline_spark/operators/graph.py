"""Distributed graph primitives for the dedup family.

Near-dup pair generation (``operators/dedup.py``) yields an edge list;
corpus-level deduplication (C4 / Dolma / RefinedWeb recipes) needs the
*transitive closure* of those pairs — connected components — so each
cluster keeps exactly one canonical document.

``connected_components`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): every round is two hash-aggregate +
join rounds over the edge list, and the edge set contracts toward star
graphs centered on each component's minimum id in O(log²) rounds
regardless of graph diameter — unlike naive min-label propagation,
whose round count is the graph *diameter* (a 10k-doc chain of
near-dups would need 10k shuffles; this needs ~a dozen). An opt-in
zero-shuffle partition-local union-find contraction (``mapInPandas``,
``local_contract=True``) runs before the first round — the classic
two-phase local-contract/global-resolve shape. It pays off exactly
when the edge relation arrives PARTITION-CLUSTERED (geo candidates
grouped by cell, LSH pairs grouped by bucket): whole clusters collapse
to stars locally — 7 rounds -> 1 and 3.5x wall-clock on the 6M-edge
blob probe (PERF r8). On uncorrelated layouts it is a measured ~1%
pure loss, but buys nothing, so the default stays off. Each
iteration is pinned with ``engine.materialize`` to truncate lineage,
which is what keeps the plan from growing exponentially in an
iterative Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list: ``(max, min)`` pairs, no
    self-loops, distinct — a stable, comparable set representation."""
    return (
        edges.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
        .where(F.expr("u != v"))
        .distinct()
    )


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (``large=True``) or small-star round.

    Per node ``u`` with neighborhood Γ(u): ``m = min(Γ(u) ∪ {u})``.
    Large-star links every strictly-larger neighbor to ``m``;
    small-star links every smaller neighbor and ``u`` itself to ``m``.

    ``edges`` is the canonical (deduped, self-loop-free) pair list; the
    symmetric view is built here as a bare two-way union WITHOUT a
    distinct — duplicate adjacency rows cannot change a ``min`` and any
    duplicate emissions die at the trailing ``distinct``, so the
    per-round shuffle count is 3 (groupBy, join, distinct) instead of
    the 5 a standalone symmetrize-with-distinct step would cost. Output
    pairs always have the smaller id second (``m ≤ u < v`` /
    ``m ≤ v``), i.e. they are already canonical.
    """
    sym = edges.union(edges.selectExpr("v AS u", "u AS v"))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .selectExpr("u", "least(__mv, u) AS m")
    )
    joined = sym.join(mins, "u")
    if large:
        out = joined.where(F.expr("v > u")).selectExpr("v AS u", "m AS v")
    else:
        out = (
            joined.where(F.expr("v < u"))
            .selectExpr("v AS u", "m AS v")
            .union(mins.selectExpr("u", "m AS v"))
        )
    return out.where(F.expr("u != v")).distinct()


_BY_VALUE_REGISTERED = False


def _register_by_value_once() -> None:
    """Serialize this module by VALUE so executor closures referencing
    ``_driver_union_find`` never need the package on their import path
    (the operators.nlp registration pattern — the
    foreign-CWD driver simulation is exactly the consumer that breaks
    otherwise). Registration is a process-global cloudpickle side
    effect, so do it exactly once (r8 ADVICE: re-registering on every
    call silently re-touches serialization of every closure that
    references this module)."""
    global _BY_VALUE_REGISTERED
    if _BY_VALUE_REGISTERED:
        return
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    _BY_VALUE_REGISTERED = True


def _local_contract(edges: DataFrame) -> DataFrame:
    """ZERO-SHUFFLE partition-local contraction: replace each
    partition's edge set with the star forest of its own union-find
    (``(member, partition-local root)`` pairs, root strictly smaller).

    Replacing any SUBSET of edges with a spanning structure of that
    subset preserves global connectivity, so this is a correct
    pre-pass for the star rounds — and it does two things the star
    algorithm pays log² rounds for: (a) dense regions (the near-dup
    blob regime) collapse to depth-1 stars immediately, and (b) every
    surviving path through a partition is shortened to length 1. The
    pass is a narrow ``mapInPandas`` (Arrow in, Arrow out, no
    exchange); memory is bounded by distinct node ids per partition —
    at 100 TB that's capped by ``spark.sql.files.maxPartitionBytes``
    /16 bytes, the same bound the driver fast path's cap enforces
    globally. The whole per-partition batch iterator feeds ONE
    union-find, so contraction power is the full partition, not the
    10k-row default Arrow batch.
    """
    _register_by_value_once()

    def contract(batches):
        import pandas as pd

        dtypes: list = []

        def pair_stream():
            for pdf in batches:
                if not dtypes:
                    dtypes.append(pdf["u"].dtype)
                    dtypes.append(pdf["v"].dtype)
                yield from zip(pdf["u"].tolist(), pdf["v"].tolist())

        # stream star-forest rows straight from the union-find generator
        # into bounded Arrow batches — no intermediate partition-sized
        # list of tuples. The union-find's parent/seen dicts still hold
        # the full partition node set (inherent to the algorithm), but
        # the OUTPUT side now peaks at one chunk plus its Arrow copy.
        import itertools

        roots = (
            (x, r) for (x, r) in _driver_union_find(pair_stream()) if x != r
        )
        chunk = 65_536
        emitted = False
        while True:
            rows = list(itertools.islice(roots, chunk))
            if not rows:
                break
            emitted = True
            yield pd.DataFrame(rows, columns=["u", "v"])
        if not emitted:
            # empty result: emit one empty frame with EXPLICIT dtypes
            # taken from the input batches, never an inferred
            # object-dtype frame relying on Arrow's empty-array cast
            # (fragile for exotic id types). A partition with no input
            # batches at all has no dtype to copy — there object-dtype
            # is safe because the cast sees zero values.
            du, dv = (dtypes[0], dtypes[1]) if dtypes else ("object", "object")
            yield pd.DataFrame(
                {"u": pd.Series(dtype=du), "v": pd.Series(dtype=dv)}
            )

    return edges.mapInPandas(contract, edges.schema)


def _driver_union_find(pairs):
    """Union-find with path halving over an iterable of ``(u, v)``
    pairs; yields ``(id, min-id-of-component)`` rows lazily (generator,
    so consumers can chunk the output without a full materialized
    list; the parent/seen dicts are the algorithm's inherent peak)."""
    parent: dict = {}
    seen: set = set()

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])  # halve
            x = parent[x]
        return x

    for u, v in pairs:
        seen.add(u)
        seen.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min keeps the root the component minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    for x in seen:
        yield (x, find(x))


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
    driver_cap: int = 4_000_000,
    local_contract: bool | str = "auto",
) -> DataFrame:
    """Connected components of an undirected pair list.

    Returns ``(id, component)`` where ``component`` is the minimum id
    in the node's component (any orderable id type). ``nodes`` — a
    1-column DataFrame of ALL ids — adds isolated nodes as their own
    singleton components; without it only ids appearing in ``pairs``
    are labeled.

    **Small-graph fast path**: near-dup edge lists are tiny relative to
    the corpus they came from (pairs that survived a Jaccard/MinHash
    threshold), so when the canonical edge set fits under
    ``driver_cap`` edges (bounded-collect via ``limit(cap+1)`` — the
    same guard pattern as ``similarity.cosine_topk_pandas`` and the IVF
    driver-trained quantizer) the closure runs as an O(E α(E))
    union-find on the driver instead of ~8 shuffle stages per
    star-algorithm round. The collect is Arrow-batched (``toPandas``),
    so a long-id edge hits the driver at 16 bytes, not a ~150-byte
    ``Row``: the default 4M-edge cap is a 64 MB transfer plus a
    union-find dict peaking at a few hundred MB — seconds on any
    driver, vs ~60 s of star rounds at the 1.4M-edge geo probe (PERF
    r6d/r7). The cap is DRIVER-RAM-bound, not crossover-bound: at 6M
    edges / 3M nodes union-find still beats the star path 2x (PERF
    r7b), so callers with roomy drivers can raise it well past the
    default — size it DOWN on small drivers or for wide string ids;
    set ``driver_cap=0`` to force the distributed path. Graphs above
    the cap take the star path automatically, so the operator stays
    100 TB-correct with no caller change — the bounded collect IS the
    auto-switch (it observes the true edge count, never an estimate).

    ``local_contract`` controls a zero-exchange partition-local
    union-find over the RAW pair relation before canonicalization,
    replacing each partition's edges with its star forest. ``True``
    always pre-contracts — right when the producer emits pairs
    partition-clustered by component locality: geo candidates grouped
    by grid cell (:func:`~.geo.geo_clusters` passes it), pairs still
    carrying their LSH band-bucket layout — where whole clusters
    collapse locally (7 star rounds -> 1 and 3.5x wall-clock on the
    6M-edge blob probe, PERF r8). The r9 layout probes showed the win
    is NOT layout-only: even after the producer layout is destroyed by
    a (id_a, id_b) hash shuffle (the trailing ``distinct`` every
    dedup pair producer ends with), contraction still buys 1.3x on the
    star path for duplicate-blob graphs via per-partition path
    shortening; the only measured loss is sparse UNCORRELATED graphs
    (~1%, PERF r8). ``"auto"`` (the default) therefore defers the
    decision to the one signal the operator can observe for free:
    the bounded driver collect. Small graphs take the driver fast
    path off the raw edge set — zero contraction overhead; only when
    the raw set overflows ``driver_cap`` does auto contract once and
    retry (the forest is never larger and may now fit — a new escape
    hatch mid-size graphs didn't have), falling through to the star
    loop ON THE CONTRACTED FOREST when even that overflows. With
    ``driver_cap=0`` (forced distributed) auto buys its signal with
    one count job and contracts only above ~1M edges — the r9 sf1
    probe measured a 3.2x LOSS forcing contraction over a 2.6k-pair
    sparse set, vs the 1.3-4.6x win at 6M blob edges. ``False``
    never contracts. The auto retry re-executes the producer lineage
    once (the contraction is a different plan than the collected
    canonical set); at >cap edge counts that recompute is noise next
    to the star rounds it replaces.

    On the distributed path, convergence is detected on the canonical edge set with ONE
    aggregate job per round — ``(count, xor-of-hashes)`` as a cheap
    set signature — and a single ``exceptAll`` confirmation when the
    signature repeats, so the exact-fixpoint guarantee costs one extra
    job total instead of one per round. ``max_iter`` is a safety valve
    far above the O(log²) bound, and hitting it raises rather than
    silently mislabeling.
    """

    def signature(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                # xor is order/partition-proof and collision-safe enough
                # to *gate* the exact exceptAll check (never to replace it)
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return row.n, row.h

    # identity/type validation, not membership: `1 in (True, False, "auto")`
    # is True (1 == True in Python) but `1 is True` is False, so an int 1
    # would pass a membership check yet silently behave as False below
    if not (
        local_contract is True
        or local_contract is False
        or local_contract == "auto"
    ):
        raise ValueError(
            f"local_contract must be True, False or 'auto', got {local_contract!r}"
        )
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nonnull = raw.where(F.col("u").isNotNull() & F.col("v").isNotNull())
    if local_contract == "auto" and not driver_cap:
        # forced-distributed + auto: no bounded collect will run, so
        # buy the decision signal with one count job (noise next to the
        # per-round signature jobs the star loop runs anyway). Small
        # sparse pair sets must NOT contract: the r9 sf1 probe measured
        # a 3.2x LOSS forcing contraction over 2.6k pairs (the Python
        # boundary with nothing to collapse), vs the 1.3-4.6x win at 6M
        # blob edges. 1M edges ~ the scale where star rounds start to
        # dominate and per-partition structure exists.
        local_contract = (
            True if nonnull.count() > 1_000_000 else False
        )
    if local_contract is True:
        # contract BEFORE _canon: the canonicalizing distinct re-shuffles
        # by (u, v) hash, which would destroy any producer
        # partition-clustering (geo cells, LSH buckets) the contraction
        # exploits best. The union-find is indifferent to duplicates,
        # order, and self-loops; NULL-id pairs are dropped here as
        # _canon would have dropped them. Both downstream paths benefit:
        # the star loop starts from the contracted forest, and the
        # driver fast path Arrow-collects the (smaller) forest.
        raw = _local_contract(nonnull)
    edges = _canon(raw)

    if driver_cap:
        head = edges.limit(driver_cap + 1).toPandas()  # Arrow, ~16 B/long edge
        if len(head) > driver_cap and local_contract == "auto":
            # auto: the raw canonical set overflows the cap — contract
            # once and retry. The star forest is never larger than the
            # edge set and collapses duplicate-rich structure, so it
            # may fit where the raw set did not; if it still doesn't,
            # the star loop below starts from the contracted forest
            # (1.3-3.5x fewer/cheaper rounds on blob graphs, PERF r9).
            edges = _canon(_local_contract(nonnull))
            head = edges.limit(driver_cap + 1).toPandas()
        if len(head) <= driver_cap:  # bounded collect saw the WHOLE set
            import pandas as pd

            spark = pairs.sparkSession
            labeled = list(
                _driver_union_find(zip(head["u"].tolist(), head["v"].tolist()))
            )
            id_type = edges.schema["u"].dataType.simpleString()
            schema_str = f"id {id_type}, component {id_type}"
            if labeled:
                # Arrow path back up too — a list of up to 2x cap Python
                # tuples through row pickling would dominate wall-clock
                # and driver RSS at the 4M-edge cap
                labels = spark.createDataFrame(
                    pd.DataFrame(labeled, columns=["id", "component"]),
                    schema_str,
                )
            else:
                labels = spark.createDataFrame([], schema_str)
            if nodes is not None:
                node_ids = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
                # broadcast only while the label side is actually small:
                # len(labeled) is exact on the driver, and at the raised
                # 4M-edge cap labels can reach ~8M rows — a forced
                # broadcast of that would OOM modest drivers/executors
                small = F.broadcast(labels) if len(labeled) <= 1_000_000 else labels
                labels = node_ids.join(small, "id", "left").select(
                    "id", F.coalesce("component", "id").alias("component")
                )
            return labels

    edges = edges.transform(materialize)
    sig = signature(edges)

    converged = sig[0] == 0
    for _ in range(max_iter):
        if converged:
            break
        stepped = _star(_star(edges, large=True), large=False)
        stepped = stepped.transform(materialize)
        new_sig = signature(stepped)
        if new_sig == sig and stepped.exceptAll(edges).isEmpty():
            converged = True
        edges, sig = stepped, new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )

    # Label over the SYMMETRIZED converged star set: at the fixpoint every
    # edge is (member, root) with root < member, so the root itself never
    # appears on the u side of the canonical list — a groupBy over only
    # that side would silently drop one id per component (the driver
    # union-find path labels it, so the two paths would disagree).
    sym = edges.union(edges.selectExpr("v AS u", "u AS v"))
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .selectExpr("u AS id", "least(__mv, u) AS component")
    )
    if nodes is not None:
        node_ids = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
        labels = (
            node_ids.join(labels, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
        )
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (public:
    Page et al. 1999; the join-aggregate formulation is the standard
    Pregel-on-relational shape, cf. GraphX/GraphFrames semantics).

    Per iteration, with N = |nodes| and d = damping:
      rank'(v) = (1-d)/N + d·( Σ_{u→v} rank(u)/outdeg(u)
                               + dangling_mass/N )
    where dangling_mass = Σ rank(u) over nodes with no out-edges —
    redistributed uniformly so total rank stays 1.0 (the classic
    teleport fix; without it rank leaks every iteration).

    Scale shape per iteration: ONE equi-join of the contribution
    relation (edges ⨝ ranks on src — ranks is |N| rows, broadcastable
    for dimension-sized graphs, hash-joined and co-partitioned with the
    edge list on src otherwise) + ONE groupBy(dst) aggregate, plus a
    1-row global sum for the dangling mass. Ranks are materialized
    each iteration to truncate lineage — the same iterative-plan
    discipline as ``connected_components`` above. Fixed iteration
    count (not convergence-tested) keeps the job graph static and the
    output deterministic.

    Returns ``(node, rank)`` with rank unrounded; callers hashing the
    output should round (the registry's q-site rounds to 6dp).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not (0.0 <= damping <= 1.0):
        raise ValueError("damping must be in [0, 1]")

    # The edge relation is touched once per iteration; materialize it
    # ONCE, pre-partitioned on the join key, so the per-iteration join
    # reshuffles only the (|N|-row) contribution side, never the edges.
    # Without this, lazy evaluation recomputes the distinct's 2-column
    # shuffle every iteration — measured 34 s → 15 s for 3 iterations
    # over 6M edges (PERF.md "r5 second-wave probes").
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .repartition("src")
        .transform(materialize)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Static per-node relations reused every iteration: contribution
    # weights (1/outdeg) for emitting nodes, and the dangling-node set.
    base = nodes.join(outdeg, nodes["node"] == outdeg["src"], "left").select(
        "node", "outdeg"
    ).transform(materialize)
    weights = base.filter(F.col("outdeg").isNotNull())
    dang_nodes = base.filter(F.col("outdeg").isNull()).select("node")

    ranks = base.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    teleport = (1.0 - damping) / n_nodes

    # Loop-body expressions as parsed SQL strings (r12, guide §5): the
    # Column-algebra forms re-issued ~10 py4j round-trips per iteration
    # per expression; the parsed forms are expression-identical (same
    # literals, same IEEE order — q142 oracle-pinned), just built in one
    # parse each.
    rank_sql = (
        f"{teleport!r}D + {damping!r}D"
        f" * (coalesce(__in, 0.0D) + __dm / {n_nodes}) AS rank"
    )
    for _ in range(iterations):
        dangling = (
            ranks.join(dang_nodes, "node", "left_semi")
            .agg(F.expr("coalesce(sum(rank), 0.0D)").alias("__dm"))
        )
        contrib = (
            e.join(
                weights.join(ranks, "node").selectExpr(
                    "node AS src", "rank / outdeg AS __c"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .selectExpr("node", rank_sql)
            .transform(materialize)
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    per_node: bool = True,
) -> DataFrame:
    """Exact triangle counting over an undirected simple graph given as
    an edge list (public algorithm: degree-ordered wedge enumeration —
    Suri & Vassilvitskii 2011 "Counting Triangles and the Curse of the
    Last Reducer"; the same orientation trick GraphX's TriangleCount
    uses).

    Self-loops are dropped and the edge list is canonicalized +
    deduplicated, so parallel/reversed duplicates count once.

    Scale shape: edges are ORIENTED from the (degree, node)-smaller
    endpoint to the larger one, so every wedge is enumerated at its
    lowest-degree vertex — the standard bound that caps the wedge
    relation at O(m^{3/2}) regardless of hot hubs (an unoriented
    self-join explodes quadratically on the highest-degree node: a
    celebrity node with 1M neighbors yields 10^12 unoriented wedges
    but only ~m^{1/2}-bounded oriented ones). The plan is two
    equi-joins and one aggregate: oriented ⨝ oriented on the wedge
    center, then LEFT SEMI against oriented on the closing edge; the
    triangle relation explodes 3 rows per triangle for per-node
    attribution. No UDFs, no collect, no cartesian.

    Returns ``(node, triangles)`` over ALL nodes (zero-triangle nodes
    included) when ``per_node``, else a 1-row ``(triangles)`` global
    count. Counts are exact.
    """
    und = (
        edges.selectExpr(
            f"least(`{src_col}`, `{dst_col}`) AS a",
            f"greatest(`{src_col}`, `{dst_col}`) AS b",
        )
        .filter(F.expr("a != b"))
        .distinct()
    )
    deg = (
        und.selectExpr("a AS node")
        .unionByName(und.selectExpr("b AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge from the (deg, node)-lexicographically smaller
    # endpoint; both degree lookups are |N|-row joins (broadcastable
    # for dimension-scale graphs, hash-joined otherwise).
    da = deg.selectExpr("node AS a", "deg AS __da")
    db = deg.selectExpr("node AS b", "deg AS __db")
    smaller_first = "__da < __db OR (__da = __db AND a < b)"
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .selectExpr(
            f"CASE WHEN {smaller_first} THEN a ELSE b END AS u",
            f"CASE WHEN {smaller_first} THEN b ELSE a END AS v",
        )
    )
    o2 = oriented.selectExpr("u", "v AS w")
    # Wedges centered at u with a deterministic v<w order in the
    # ORIENTATION order (degree, node) — enumerate each unordered pair
    # once. Orientation order is encoded by re-joining degrees once.
    wedges = (
        oriented.join(o2, "u")
        .filter(F.expr("v != w"))
        .join(deg.selectExpr("node AS v", "deg AS __dv"), "v")
        .join(deg.selectExpr("node AS w", "deg AS __dw"), "w")
        .filter(F.expr("__dv < __dw OR (__dv = __dw AND v < w)"))
        .select("u", "v", "w")
    )
    closed = wedges.join(
        oriented.selectExpr("u AS v", "v AS w"), ["v", "w"], "left_semi"
    )
    if not per_node:
        return closed.agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    members = (
        closed.selectExpr("u AS node")
        .unionByName(closed.selectExpr("v AS node"))
        .unionByName(closed.selectExpr("w AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
    )
    return (
        deg.select("node")
        .join(members, "node", "left")
        .selectExpr("node", "CAST(coalesce(__t, 0) AS BIGINT) AS triangles")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (public:
    Raghavan, Albert & Kumara 2007; the GraphFrames ``labelPropagation``
    semantics — undirected, every node starts in its own community,
    each round every node adopts the most frequent label among its
    neighbors, ties broken by smallest label for determinism).

    Fixed iteration count keeps the job graph static and the output
    deterministic/oracle-able (LPA has no convergence guarantee —
    synchronous updates can oscillate, which is WHY the public
    formulations run a bounded round count).

    Scale shape per iteration: ONE equi-join of the symmetrized edge
    list against the |N|-row label relation + ONE (node, label) count
    aggregate + ONE per-node argmax window over that count relation
    (bounded by degree sums, i.e. 2m rows). Labels are
    materialized per round — same lineage discipline as
    ``pagerank``/``connected_components``. The node set is the
    endpoints of non-self-loop edges (an edge-list representation
    carries no isolated nodes; self-loop-only nodes are dropped with
    their loops).

    Returns ``(node, label)``.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().repartition("b").transform(materialize)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label")).transform(materialize)
    w = Window.partitionBy("a").orderBy(F.col("__c").desc(), F.col("label").asc())
    for _ in range(iterations):
        neigh = (
            sym.join(
                labels.select(F.col("node").alias("b"), "label"), "b"
            )
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        picked = (
            neigh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("a").alias("node"), "label")
        )
        labels = (
            nodes.join(picked, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("label"), F.col("node")).alias("label"),
            )
            .transform(materialize)
        )
    return labels


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Multi-source breadth-first search: the minimum hop count from
    any seed node within ``max_hops`` (public: the Pregel/GraphFrames
    ``shortestPaths`` special case for unit edge weights — k-hop
    neighborhood expansion, the reachability primitive under fraud
    rings, dependency blast-radius, and social-distance features).

    ``seeds`` is a one-column relation of seed node ids (column name
    ``node``); they report level 0. Nodes never reached within
    ``max_hops`` are absent from the output — left-join the node list
    at the call site if unreached rows are wanted.

    Scale shape per hop: ONE equi-join of the current FRONTIER (only
    the nodes first reached last hop — not the whole visited set)
    against the edge list, ONE distinct, ONE left-anti join against
    the visited relation; visited/frontier are ``localCheckpoint``-ed
    per hop (the repo's fixed-iteration lineage discipline, same as
    ``pagerank``/``label_propagation``). Frontier size is bounded by
    the hop's reach, so early hops never pay whole-graph cost.

    Returns ``(node, level)`` with level in 0..max_hops.
    """
    if max_hops < 0:
        raise ValueError("bfs_levels: max_hops must be >= 0")
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst_col).alias("__s"), F.col(src_col).alias("__d"))
        )
    e = e.filter(F.col("__s") != F.col("__d")).distinct()
    visited = (
        seeds.select(F.col("node"), F.lit(0).cast("long").alias("level"))
        .distinct()
        .transform(materialize)
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier.withColumnRenamed("node", "__s"), "__s")
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .transform(materialize)
        )
        if reached.isEmpty():
            break
        visited = visited.unionByName(
            reached.select("node", F.lit(hop).cast("long").alias("level"))
        ).transform(materialize)
        frontier = reached
    return visited


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Fixed-iteration multi-source weighted shortest paths — the
    Bellman-Ford relaxation in its join-aggregate form (public: the
    Pregel SSSP classic, cf. GraphFrames ``shortestPaths`` for the
    unit-weight case; :func:`bfs_levels` is the hop-count special
    case). ``iterations`` bounds path LENGTH in edges: after k rounds
    the distances are exact for all shortest paths of ≤ k edges (the
    standard bounded-relaxation semantics — a fixed job graph, a
    deterministic oracle-able output, and no negative-cycle
    divergence by construction).

    Per round: relax every edge whose source currently has a distance
    (frontierless full relaxation — ONE equi-join of the |reached|-row
    distance relation against the edge list + ONE min-aggregate +
    ONE min-merge with the previous distances), distances
    ``localCheckpoint``-ed per round (the module's lineage
    discipline). Weights must be non-negative longs (exact integer
    arithmetic end to end — no float path sums).

    ``seeds`` is a one-column ``node`` relation (distance 0). Nodes
    unreached within ``iterations`` edges are absent. Returns
    ``(node, dist)``.
    """
    if iterations < 0:
        raise ValueError("shortest_paths: iterations must be >= 0")
    e = (
        edges.select(
            F.col(src_col).alias("__s"),
            F.col(dst_col).alias("__d"),
            F.col(weight_col).cast("long").alias("__w"),
        )
        .groupBy("__s", "__d")
        .agg(F.min("__w").alias("__w"))
        .transform(materialize)
    )
    dist = (
        seeds.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
        .distinct()
        .transform(materialize)
    )
    for _ in range(iterations):
        relaxed = (
            e.join(dist.withColumnRenamed("node", "__s"), "__s")
            .select(F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(materialize)
        )
    return dist


def markov_power_iteration(
    transitions: DataFrame,
    from_col: str = "from_state",
    to_col: str = "to_state",
    count_col: str = "n",
    steps: int = 3,
) -> DataFrame:
    """Fixed-step power iteration toward the Markov chain's stationary
    distribution, from the uniform start (public: the power method on
    a row-stochastic matrix — PageRank's undamped core; the "where
    does the event stream settle" readout over q169's transition
    matrix).

    EXACT INTEGER recurrence so every engine agrees bitwise: the row
    probabilities and the mass vector live in micro-units (×1e6), one
    step is

        v'_j = (Σ_i v_i · p_ij + 500000) div 1000000

    — an exact integer sum, then the repo's standard half-up
    micro-requantization as pure integer division. Terminal states
    (no outgoing transitions) absorb-and-drop their mass, so Σv may
    shrink per step (sub-stochastic semantics; stated). ``steps`` is a
    FIXED unroll — the fixed-parameter-oracle trick (q123 family)
    applied to an iterative kernel, so a recursive/unrolled SQL twin
    replays it exactly.

    Scale shape: the state relation is |S| rows and the matrix |S|²
    at worst — broadcast joins, never fact-sized; the fact-scale work
    happened upstream in the transition-count aggregate. Returns
    ``(state, v_micro)`` after ``steps`` steps.
    """
    if steps < 0:
        raise ValueError("markov_power_iteration: steps must be >= 0")
    spark = transitions.sparkSession
    f, t, c = F.col(from_col), F.col(to_col), F.col(count_col)
    # row-normalized probabilities in micro-units: floor(n/rowsum*1e6+0.5)
    wrow = Window.partitionBy(from_col)
    p = transitions.select(
        f.alias("__f"),
        t.alias("__t"),
        F.floor(
            c.cast("double") / F.sum(c).over(wrow).cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("__p"),
    )
    states = (
        transitions.select(f.alias("__s"))
        .union(transitions.select(t.alias("__s")))
        .distinct()
    )
    n_states = states.count()  # |S|-bounded driver scalar, not fact data
    v = states.select(
        "__s", F.lit(int(1_000_000 // max(1, n_states))).alias("__v")
    )
    for _ in range(steps):
        v = (
            v.join(F.broadcast(p), v["__s"] == p["__f"])
            .groupBy(F.col("__t").alias("__s"))
            .agg(
                # integral `div`, NOT `/`: float division would round
                # the >2^53 sums a big state space can reach
                F.expr("(sum(__v * __p) + 500000) div 1000000")
                .cast("long")
                .alias("__v")
            )
        )
    return v.select(F.col("__s").alias("state"), F.col("__v").alias("v_micro"))
