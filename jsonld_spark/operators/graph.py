"""Graph analytics over the materialized triple table.

The reference stops at graph *construction* (Document/Graph/Node in
Document.php — adjacency is walked imperatively per node); a KG built at
corpus scale also needs the analytical primitives that consume the
graph. These operate on the IRI-edge projection of the triple table
(subject -> obj_value where obj_kind='iri'), i.e. the same edge set the
adjacency sink materializes:

- ``triangle_counts``: per-node triangle participation via DEGREE
  ORIENTATION (the node-iterator bound of Schank & Wagner / Suri &
  Vassilvitskii's MR-friendly variant): every undirected edge is
  oriented from its lower-(degree, id) endpoint to the higher one, so
  wedge generation is quadratic only in the *oriented out-degree*,
  which is O(sqrt(m)) — a hub with 10^9 in-edges contributes no
  hub-centered wedges. This is the shape that survives head-entity
  skew at 10^12 turns; a naive wedge join on the raw adjacency would
  square the hub.
- ``pagerank_fixedpoint``: K rounds of PageRank in FIXED-POINT integer
  arithmetic (rank scaled by 1e9, damping 85/100, floor division).
  Floating-point PageRank is not reproducible across engines (sum
  order differs per partitioning); integer sums are associative, so
  the distributed result is bit-identical to any sequential
  re-computation — which is what makes the DuckDB oracle exact.
  Variant documented precisely: r0 = S; r_{k+1}(v) = floor(S*15/100)
  + sum over in-edges (u,v) of floor(r_k(u)*85 / (100*outdeg(u)));
  dangling mass is dropped (not redistributed).
- ``personalized_pagerank_fixedpoint``: the same recurrence (shared
  core) with initial mass and teleport restricted to a seed set, and
  optional edge reversal — seed-relative importance / provenance
  weighting. Only rank > 0 nodes are returned.
- ``khop_distances``: bounded-depth BFS (min-hop distance from a seed
  set), frontier-at-a-time — each round touches only edges incident
  to the new frontier, the standard iterative shape for "who reaches
  entity X within K hops" provenance queries.

All of these are plain DataFrame joins/aggregations (no Python UDFs);
iterative loops localCheckpoint() per round so lineage stays flat (at
cluster scale these become reliable checkpoint()s, same as
operators/components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_spark.operators import scratch

PR_SCALE = 10**9  # fixed-point rank scale; see module docstring
PR_ITERATIONS = 3
KHOP_DEFAULT_K = 4


def iri_edges(triples: DataFrame) -> DataFrame:
    """Directed (src, dst) edge projection of the triple table:
    IRI-kind objects only, self-loops dropped, deduplicated."""
    return (
        triples.where(
            (F.col("obj_kind") == "iri") & (F.col("subject") != F.col("obj_value"))
        )
        .select(F.col("subject").alias("src"), F.col("obj_value").alias("dst"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles) for every node on >=1 triangle of the
    UNDIRECTED graph underlying ``edges``.

    Degree orientation: okey(n) = zero-padded degree || '|' || node is
    a total order; orienting every edge low-okey -> high-okey makes
    max oriented out-degree O(sqrt(m)), so the wedge self-join is
    bounded even on hub-skewed graphs. A wedge (a->b1, a->b2) with
    okey(b1) < okey(b2) closes iff oriented edge (b1 -> b2) exists —
    each triangle is found exactly once, at its lowest-okey corner.
    """
    from pyspark.sql.window import Window

    # r6 single-consumption rework (A/B best-of-2 at sf0.1/32c:
    # 8.2 s -> 6.0 s warm, 13.2 -> 6.4 cold): the r5 shape cached
    # `und` and consumed it 3x (two endpoint projections for the
    # degree aggregate + the keyed join), and attached degrees via TWO
    # joins against the keyed table — on a cold cache the concurrent
    # consumers RACED the distinct (stage-profiled: twin 65-core-s map
    # stages), and exchange reuse cannot dedup them (never fires above
    # an InMemoryRelation in Spark 4.1). Here `und` has exactly ONE
    # consumer: explode both endpoints, count degree per node with a
    # window, and regroup by edge — two shuffles of 2|E| endpoint rows
    # replace the degree aggregate plus two degree joins plus the
    # cache, and no cache race exists at all.
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    ends = und.select(
        "u", "v", F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
    )
    withdeg = ends.withColumn(
        "deg", F.count("*").over(Window.partitionBy("node"))
    )
    withk = withdeg.groupBy("u", "v").agg(
        F.max(F.when(F.col("node") == F.col("u"), F.col("deg"))).alias("du"),
        F.max(F.when(F.col("node") == F.col("v"), F.col("deg"))).alias("dv"),
    )
    # 12 digits of degree keeps the string order == (deg, node) order
    # for degrees < 10^12 (lpad truncates beyond; order would stay a
    # consistent total order on both engines, but no longer degree
    # order, so the sqrt(m) wedge bound would soften)
    ku = F.concat(
        F.lpad(F.col("du").cast("string"), 12, "0"), F.lit("|"), F.col("u")
    )
    kv = F.concat(
        F.lpad(F.col("dv").cast("string"), 12, "0"), F.lit("|"), F.col("v")
    )
    lo = ku < kv
    oriented = scratch.track(  # consumed 3x below; computed once, lazily
        withk.select(
            F.when(lo, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lo, kv).otherwise(ku).alias("kb"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "a")
        .where(F.col("e1.kb") < F.col("e2.kb"))
        .select(
            F.col("a").alias("apex"),
            F.col("e1.b").alias("b1"),
            F.col("e2.b").alias("b2"),
        )
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2")), ["b1", "b2"]
    )
    return (
        closed.select(
            F.explode(F.array("apex", "b1", "b2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def pr_scale_for(n_nodes: int) -> int:
    """Largest safe fixed-point scale for a graph of ``n_nodes``
    nodes. Overflow contract: total rank mass never exceeds
    n_nodes * scale (the recurrence is mass-non-increasing), a single
    rank is bounded by the total, and the per-edge term multiplies by
    85 before dividing — so 85 * n_nodes * scale must stay < 2^63.
    Violating it is NOT a clean failure: Spark's non-ANSI BIGINT sum
    wraps silently while DuckDB promotes to HUGEINT and errors on the
    cast, so the engines diverge exactly when it matters. The default
    scale 1e9 is safe to ~10^8 nodes; a 10^12-node graph needs
    scale <= ~10^5 (still 5 significant digits of rank)."""
    return max(1, min(PR_SCALE, (2**63 - 1) // 85 // max(n_nodes, 1)))


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    checkpoint_every: int = 8,
) -> DataFrame:
    """(node, rank_fp) after ``iterations`` fixed-point PageRank rounds
    (see module docstring for the exact integer recurrence). rank_fp is
    a BIGINT — bit-identical across engines and partitionings because
    every operation is integer (floor division via `div`, associative
    integer sums). Caller contract: 85 * n_nodes * scale < 2^63 —
    pick ``scale = pr_scale_for(n_nodes)`` when the graph may exceed
    ~10^8 nodes at the default scale (see pr_scale_for).

    The rank table is consumed exactly ONCE per round, so lineage depth
    is linear in K — unlike the BFS in khop_distances there is no
    double-consumption blowup, and a small K compiles into one deep
    plan Catalyst/AQE executes as a single job. That beats an eager
    localCheckpoint per round 2-3x measured (14.9 s -> 4.3-6.5 s at
    sf0.1/32c): each checkpoint is a synchronous job whose scheduling
    overhead dominates these node-sized tables. ``checkpoint_every``
    still bounds plan depth/analysis cost for large K.

    The multi-consumed tables (edges, edges+outdeg, nodes) use LAZY
    cache() rather than checkpoints: eager localCheckpoint() runs the
    job at build time, and even localCheckpoint(eager=False) compiles
    the physical plan on the spot (measured 8.9 s of build-time work
    at sf0.1) — cache() defers everything to the consuming action
    (honest to time, no work if never materialized) while still
    computing each table once for its K consumers. A caller-cached
    ``edges`` is reused as-is (the driver shares one edge cache across
    the graph queries). At cluster scale with large K, swap in
    reliable df.checkpoint()s for fault tolerance."""
    return _pagerank_core(edges, None, iterations, scale, checkpoint_every, False)


def edges_with_outdeg(edges: DataFrame, reverse: bool = False) -> DataFrame:
    """(src, dst, outdeg) — the per-round join table of the PageRank
    recurrence, optionally over reversed edges. Exposed so a caller
    running several seed sets (or a bench sequence) can build and
    cache it ONCE and pass it through ``esrc=`` (VERDICT r4 #7: the
    reversed-edge build is the residual PPR-vs-PR cost that forward
    PR cannot share)."""
    from pyspark.sql.window import Window

    e = (
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if reverse
        else edges
    )
    # count-over-window, not groupBy+join (r6): one shuffle and ONE
    # scan of the edge table instead of two concurrent ones — on a
    # cold caller cache the groupBy map and the join map raced the
    # cache population, doubling the projection+distinct work
    # (stage-profiled: two ~30 core-s map stages over the same cache;
    # A/B best-of-3 at sf0.1/32c: 3.18 s -> 2.52 s for PR end-to-end).
    # count(*) over partitionBy(src) is exactly the per-src edge count,
    # so the (src, dst, outdeg) rows are identical.
    return e.select(
        "src", "dst", F.count("*").over(Window.partitionBy("src")).alias("outdeg")
    )


def personalized_pagerank_fixedpoint(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    checkpoint_every: int = 8,
    reverse: bool = False,
    esrc: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank — the same fixed-point recurrence as
    pagerank_fixedpoint (shared core), except initial mass AND the
    teleport term live only on the ``seeds`` (node) set, so rank
    measures importance RELATIVE to the seeds. ``reverse=True`` walks
    edges backwards (like khop_distances) — provenance weighting:
    "what feeds these entities, and how directly". Returns only nodes
    with rank_fp > 0 (mass reaches at most ``iterations`` hops from a
    seed). Seeds absent from the graph's node set carry no mass. Same
    overflow contract; mass here is seed-count-bounded, so
    85 * n_seeds * scale < 2^63 suffices.

    Unlike the uniform variant the rank table is SPARSE — proportional
    to the reached ball, not the node set — and the teleport term is
    folded into the contribution aggregation, so per-round cost is one
    join + one combine over reached nodes (see _pagerank_core).

    ``esrc``: a prebuilt ``edges_with_outdeg(edges, reverse=...)``
    table (caller-cached, caller-owned) — pass it when running several
    PPR queries so the reversed-edge join table is built once."""
    return _pagerank_core(
        edges, seeds, iterations, scale, checkpoint_every, reverse, esrc
    )


def _pagerank_core(
    edges: DataFrame,
    seeds: DataFrame | None,
    iterations: int,
    scale: int,
    checkpoint_every: int,
    reverse: bool,
    esrc_in: DataFrame | None = None,
) -> DataFrame:
    """One recurrence, both variants: uniform (seeds=None) or
    seed-restricted teleport — a single copy keeps the two engines'
    bit-identical property maintained in one place."""
    # an uncached input gets a scratch-tracked cache; a caller-cached
    # edge table (the driver's shared cached_edges) stays caller-owned
    base_edges = edges if edges.is_cached else scratch.track(edges)
    # a reversal is a projection over the (cached) base — re-deriving
    # it per consumer is a cache scan, cheaper than a second edge cache
    e = (
        base_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if reverse
        else base_edges
    )
    if esrc_in is not None:
        # caller-owned prebuilt (src, dst, outdeg) — caller caches it
        esrc = esrc_in
    else:
        # window-count form (see edges_with_outdeg): ONE scan of the
        # edge cache instead of the groupBy map + join map racing a
        # cold cache; consumed every round, so scratch-cached
        esrc = scratch.track(edges_with_outdeg(e))  # (src, dst, outdeg)
    base = scale * 15 // 100
    if seeds is None:
        # node set from esrc, NOT from e: esrc carries the same edge
        # rows, and deriving here keeps the caller's edge cache at
        # exactly one consumer (the esrc window map) — the two
        # endpoint-projection scans of e raced its cold population
        nodes = (
            esrc.select(F.explode(F.array("src", "dst")).alias("node"))
            .distinct()
        )
        # dense recurrence: every node carries the teleport term, so
        # the per-round base join against the full node table is the
        # recurrence itself — nothing to shave
        marked = scratch.track(nodes.select("node", F.lit(1).alias("is_seed")))
        ranks = marked.select("node", F.lit(scale).cast("long").alias("rank_fp"))
        for i in range(iterations):
            contrib = esrc.join(
                ranks.select(F.col("node").alias("src"), "rank_fp"), "src"
            ).select(
                F.col("dst").alias("node"),
                F.expr("(rank_fp * 85) div (100 * outdeg)").alias("c"),
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            ranks = marked.join(summed, "node", "left").select(
                "node",
                (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank_fp"),
            )
            if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
                ranks = ranks.localCheckpoint()
        return ranks

    # SPARSE personalized recurrence (VERDICT r3 #5): only seeds and
    # reached nodes ever hold mass, so the rank table tracks just
    # those. The teleport term rides into the SAME aggregation as the
    # edge contributions (base rows unioned before the groupBy), so a
    # round is one join + one combine — the full-node-set base join of
    # the dense form (and r3's per-round `marked` re-join) is gone.
    # Integer sums are associative, so folding base into the sum keeps
    # the result bit-identical to the unrolled oracle recurrence.
    # seeds absent from the graph carry no mass. Intersecting via the
    # full node table costs a node-set shuffle distinct (the 100-TB
    # anti-pattern for a lookup of a handful of seeds); broadcasting
    # the tiny seed set against ONE exploded-endpoint scan filters
    # map-side, and the shuffle carries only matched seeds (r3: 3.8 s
    # -> 1.3 s vs the node-table distinct; r5: one explode scan halves
    # the two-projection form's cold cost, 2.6 s -> 1.1 s — profiling
    # showed THIS subplan, not per-round work or the esrc build, was
    # the residual PPR-vs-PR gap: BENCH/BASELINE.md "Personalized
    # PageRank")
    seed_nodes = seeds.select("node").distinct()
    # endpoint scan over esrc, not e (r6): esrc carries the same edge
    # rows, so this keeps the caller's edge cache at one consumer —
    # and with a prebuilt esrc_in the seed probe reads the caller's
    # warm cache instead of re-deriving the reversal from e
    present = (
        esrc.select(F.explode(F.array("src", "dst")).alias("node"))
        .join(F.broadcast(seed_nodes), "node")
        .distinct()
    )
    seed_base = scratch.track(
        present.select("node", F.lit(base).cast("long").alias("c"))
    )
    ranks = seed_base.select("node", F.lit(scale).cast("long").alias("rank_fp"))
    for i in range(iterations):
        live = ranks.where(F.col("rank_fp") > 0)
        contrib = esrc.join(
            live.select(F.col("node").alias("src"), "rank_fp"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("(rank_fp * 85) div (100 * outdeg)").alias("c"),
        )
        ranks = (
            contrib.unionByName(seed_base)
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("rank_fp"))
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.where(F.col("rank_fp") > 0)


def ego_subgraph(
    edges: DataFrame, seeds: DataFrame, k: int, reverse: bool = True
) -> DataFrame:
    """Edges whose BOTH endpoints lie within ``k`` hops of the seed
    set — the training-subgraph extraction primitive (GraphRAG /
    GNN-style ego networks around an entity). Composition of existing
    operators: khop_distances finds the node ball, two left-semi joins
    cut the edge set down to it (semi-joins never widen rows, so the
    output is bounded by the ball's induced edges, not the corpus).
    Executes the BFS at call time (see khop_distances)."""
    ball = khop_distances(edges, seeds, k=k, reverse=reverse).select("node")
    return (
        edges.join(ball.select(F.col("node").alias("src")), "src", "left_semi")
        .join(ball.select(F.col("node").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )


def neighbor_sample(edges: DataFrame, k: int) -> DataFrame:
    """Deterministic per-node neighborhood sample: the lexicographically
    first ``k`` out-neighbors, joined as one string column — the
    subgraph-sampling primitive a GraphRAG-style training pipeline
    needs, made deterministic (sorted prefix, not random) so the result
    is reproducible across runs/engines and exactly oracle-checkable.
    Returns (node, n_neighbors, sample). Hub-safe: the k-prefix is cut
    by a row_number window BEFORE any list is collected (window sorts
    spill; a collect_list over the raw hub fan-out would build an
    unbounded, non-spillable aggregation buffer), so per-group state is
    bounded by k everywhere — the count aggregate carries only a
    counter."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy("dst")
    topk = (
        edges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("src")
        .agg(
            F.array_join(F.array_sort(F.collect_list("dst")), "|").alias("sample")
        )
    )
    counts = edges.groupBy("src").agg(F.count("*").alias("n_neighbors"))
    return counts.join(topk, "src").select(
        F.col("src").alias("node"), "n_neighbors", "sample"
    )


NEG_BUCKET_CHARS = 2   # md5 prefix length -> 256 hash buckets
NEG_PROBES = 3         # candidate buckets probed per source node


def negative_samples(edges: DataFrame, k: int, probes: int = NEG_PROBES) -> DataFrame:
    """Deterministic negative sampling: for every node, ``k``
    pseudo-random NON-neighbors — the corruption-sampling primitive of
    KG-embedding training (TransE-family: each positive edge trains
    against sampled non-edges).

    Deterministic and engine-portable by construction, so the DuckDB
    oracle is exact: candidate generation is a BUCKET-equality join
    (node v is a candidate for u when md5(v)'s 2-hex-char prefix
    equals the 2-hex-char probe key md5(u + '#' + i), i < probes),
    real edges and self-pairs are anti-joined away, and each node
    keeps the ``k`` candidates with the smallest md5(u + '|' + v) —
    a deterministic pseudo-random order both engines compute
    identically on strings (no float RNG, no hex-to-int casts).

    Scale shape: candidates per node ≈ probes × |V| / 256 via an
    equality join (never a cross join); the k-prefix is cut by a
    row_number window BEFORE any aggregation (window sorts spill, so
    hub-sized candidate sets are safe — same policy as
    neighbor_sample); the anti-join is on the (src, dst) edge key.
    At 10^12 edges, bucket counts scale with NEG_BUCKET_CHARS (each
    extra hex char divides candidate fan-out by 16).

    Output: (node, negative, rank) with rank 1..k. Nodes can yield
    fewer than k rows when probing finds fewer distinct non-neighbors
    — probes trades coverage for fan-out."""
    from pyspark.sql.window import Window

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    buckets = nodes.select(
        F.col("node").alias("cand"),
        F.substring(F.md5("node"), 1, NEG_BUCKET_CHARS).alias("bkt"),
    )
    probes_df = nodes.select(
        "node",
        F.explode(F.sequence(F.lit(0), F.lit(probes - 1))).alias("i"),
    ).select(
        "node",
        F.substring(
            F.md5(F.concat(F.col("node"), F.lit("#"), F.col("i"))),
            1,
            NEG_BUCKET_CHARS,
        ).alias("bkt"),
    )
    # r6: dedup the NODE-SIZED probe table, not the candidate join
    # output — each candidate owns exactly one bucket (md5 prefix of
    # itself), so with unique (node, bkt) probe rows the joined
    # (node, cand) pairs are unique by construction and the old
    # .distinct() over the candidate set (probes x |V|^2 / 16^chars
    # rows — ~1e9 at sf0.1, a full extra shuffle + hash aggregate of
    # the fattest intermediate in the repo) is a no-op. Identical
    # output; the sf0.1 run previously GC-thrashed to death here.
    cand = (
        probes_df.distinct()
        .join(buckets, "bkt")
        .where(F.col("cand") != F.col("node"))
        .select("node", "cand")
    )
    return _rank_non_edge_candidates(cand, edges, k)


def _rank_non_edge_candidates(
    cand: DataFrame, edges: DataFrame, k: int, cand_has_dups: bool = False
) -> DataFrame:
    """Shared tail of the negative samplers: anti-join real edges and
    self-pairs away, keep each node's ``k`` candidates with the
    smallest md5(node|cand) — a deterministic pseudo-random order both
    engines compute identically on strings. The k-prefix is cut by a
    rank window BEFORE any aggregation (window sorts spill).

    ``cand_has_dups=True`` (degree-weighted sampler: one pair can
    arise through two replica buckets): instead of a candidate-level
    ``.distinct()`` BEFORE the window — a second full shuffle + hash
    aggregate of the ~1e9-row candidate set that GC-thrashed sf0.1 to
    death (r6) — duplicates ride through the ONE window shuffle, where
    ``dense_rank`` over the total order (md5, cand) assigns equal
    duplicates an equal rank that exactly equals the row_number a
    pre-deduped stream would get; the duplicate rows (identical after
    the cut) are then dropped from the k-bounded survivor set."""
    from pyspark.sql.window import Window

    non_edges = cand.join(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("cand")),
        ["node", "cand"],
        "left_anti",
    )
    w = Window.partitionBy("node").orderBy(
        F.md5(F.concat(F.col("node"), F.lit("|"), F.col("cand"))), F.asc("cand")
    )
    rank_fn = F.dense_rank() if cand_has_dups else F.row_number()
    out = (
        non_edges.withColumn("rank", rank_fn.over(w))
        .where(F.col("rank") <= k)
        .select("node", F.col("cand").alias("negative"), "rank")
    )
    return out.dropDuplicates() if cand_has_dups else out


NEG_DEG_UNIT = 4       # one candidate replica per UNIT of degree
NEG_DEG_MAX_REP = 16   # replica cap — bounds hub fan-out


def negative_samples_degree(
    edges: DataFrame, k: int, probes: int = NEG_PROBES
) -> DataFrame:
    """Degree-WEIGHTED negative sampling: like ``negative_samples``,
    but candidate inclusion probability is proportional to the
    candidate's total degree — TransE-family training wants
    popularity-proportional corruption (a hub is a far more
    informative negative than a random leaf), which uniform bucket
    sampling underweights (VERDICT r4 #5).

    Mechanism: node v enters the candidate bucket table with
    ``rep(v) = min(NEG_DEG_MAX_REP, ceil(degree(v)/NEG_DEG_UNIT))``
    replicas, replica j keyed md5(v + ':' + j) — so a probe key is
    ``rep(v)/rep(w)`` times more likely to land on v than w, up to the
    cap. Selection stays a bucketed EQUALITY join (probes × Σrep/256
    fan-out, never a cross join), anti-join on the edge key, windowed
    k-cut before aggregation; everything is string md5 arithmetic both
    engines reproduce exactly, so the DuckDB oracle is exact.

    Output: (node, negative, rank), rank 1..k per node."""
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    rep = F.expr(
        f"least({NEG_DEG_MAX_REP}, (degree + {NEG_DEG_UNIT - 1}) div {NEG_DEG_UNIT})"
    )
    buckets = deg.select(
        F.col("node").alias("cand"),
        F.explode(F.sequence(F.lit(0).cast("long"), rep - 1)).alias("j"),
    ).select(
        "cand",
        F.substring(
            F.md5(F.concat(F.col("cand"), F.lit(":"), F.col("j"))),
            1,
            NEG_BUCKET_CHARS,
        ).alias("bkt"),
    )
    probes_df = deg.select(
        "node",
        F.explode(F.sequence(F.lit(0), F.lit(probes - 1))).alias("i"),
    ).select(
        "node",
        F.substring(
            F.md5(F.concat(F.col("node"), F.lit("#"), F.col("i"))),
            1,
            NEG_BUCKET_CHARS,
        ).alias("bkt"),
    )
    # r6: dedup the small inputs before the fan-out join (probe rows
    # per node, replica rows per candidate) — the same (node, cand)
    # pair can still arise through TWO DIFFERENT buckets (distinct
    # replicas of one candidate), so the remaining dedup is handled by
    # the dense_rank form of the shared tail (cand_has_dups=True)
    # instead of a candidate-level distinct, which double-shuffled the
    # ~1e9-row candidate set. See negative_samples for the uniform
    # variant, where candidates are unique by construction.
    cand = (
        probes_df.distinct()
        .join(buckets.distinct(), "bkt")
        .where(F.col("cand") != F.col("node"))
        .select("node", "cand")
    )
    return _rank_non_edge_candidates(cand, edges, k, cand_has_dups=True)


NS_MAX_DEG = 64     # neighbors above this degree carry no signal
NS_MIN_COMMON = 2   # emit pairs sharing at least this many neighbors


def neighbor_similarity(
    edges: DataFrame,
    max_deg: int = NS_MAX_DEG,
    min_common: int = NS_MIN_COMMON,
) -> DataFrame:
    """Jaccard similarity of UNDIRECTED neighbor sets — the
    entity-resolution blocking primitive ("two entities sharing many
    neighbors are merge candidates").

    Neighbor sets are restricted to NON-HUB neighbors (degree <=
    ``max_deg``): a ubiquitous node (the E0 head entity connects ~44%
    of mentions) is shared by *everything* and carries no similarity
    signal — exactly the stop-word argument — while enumerating its
    wedges is quadratic in its degree (the all-pairs blowup this repo
    never does). With the cap, candidate generation is a self-join on
    the shared NEIGHBOR and per-neighbor fan-out is bounded by
    C(max_deg, 2): complete for every pair sharing >= 1 non-hub
    neighbor, linear-in-|V| work. Jaccard uses the same filtered sets
    (consistent semantics, exact SQL oracle).

    Output: (node_a, node_b, n_common, deg_a, deg_b, jaccard) for
    pairs with ``n_common >= min_common``, node_a < node_b.
    """
    from pyspark.sql.window import Window

    # r6 single-consumption rework (A/B best-of-3 at sf0.1/32c: 4.9 s
    # -> 3.2 s warm, 9.5 -> 4.4 cold; identical output): `und` is
    # consumed ONCE via a both-directions explode (the r5 two-arm
    # union raced its cold cache — exchange reuse never fires above an
    # InMemoryRelation), and the non-hub neighbor filter is a window
    # count over the SAME pass instead of a degree aggregate joined
    # back (which consumed `adj` twice). und no longer needs a cache
    # at all.
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    # self-loops are dropped above: a (x, x) row would survive the
    # least/greatest distinct, then the two-direction explode would
    # emit it TWICE — double-counting x's degree, making x its own
    # neighbor, and double-counting every wedge through x (review
    # finding; the driver's iri_edges already excludes them, but the
    # operator must hold on arbitrary edge tables)
    adj = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("n"), F.col("v").alias("nb")),
                F.struct(F.col("v").alias("n"), F.col("u").alias("nb")),
            )
        ).alias("e")
    ).select("e.*")
    # keep only non-hub NEIGHBORS; the nodes being compared may be hubs
    nb_small = scratch.track(
        adj.withColumn(
            "nb_deg", F.count("*").over(Window.partitionBy("nb"))
        )
        .where(F.col("nb_deg") <= max_deg)
        .select("n", "nb")
    )
    fdeg = nb_small.groupBy("n").agg(F.count("*").alias("fdeg"))
    # candidate pairs are generated IN-GROUP from one collect_list per
    # shared neighbor instead of a self-join on nb (which shuffles
    # nb_small twice and recomputes it per side) — the same measured
    # pattern as the simhash bucket expansion: 18.1 -> 10.9 s cold /
    # 10.3 -> 8.2 s warm at sf0.1, identical output. The collected
    # array is bounded by max_deg, so per-group aggregation state is
    # capped — this is NOT the unbounded collect_list hazard
    members = (
        nb_small.groupBy("nb")
        .agg(F.sort_array(F.collect_list("n")).alias("m"))
        .where(F.size("m") > 1)
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, F.size(F.col("m"))),
                lambda y: F.struct(x.alias("node_a"), y.alias("node_b")),
            ),
        )
    )
    wedges = members.select(F.explode(pair_expr).alias("p")).select("p.*")
    common = (
        wedges.groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    return (
        common.join(fdeg.withColumnRenamed("n", "node_a")
                    .withColumnRenamed("fdeg", "deg_a"), "node_a")
        .join(fdeg.withColumnRenamed("n", "node_b")
              .withColumnRenamed("fdeg", "deg_b"), "node_b")
        .select(
            "node_a", "node_b", "n_common", "deg_a", "deg_b",
            (F.col("n_common")
             / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
             ).alias("jaccard"),
        )
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(degree, n_nodes): distribution of TOTAL degree (in + out) over
    the directed edge set — the first thing to look at before choosing
    join/skew strategy on a new corpus. Two aggregations, both with
    map-side partial combine."""
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


KCORE_K = 4
KCORE_ROUNDS = 6


def kcore_nodes(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS,
    check_converged: bool = True,
) -> DataFrame:
    """(node, core_deg): the k-core of the UNDIRECTED graph underlying
    ``edges`` — the maximal subgraph where every node keeps degree
    >= k — via ``rounds`` peel iterations (Matula & Beck's algorithm
    under a FIXED round budget: peeling is idempotent at the fixpoint,
    so extra rounds are no-ops and both engines can run the identical
    unrolled plan with no driver-side convergence actions; pytest pins
    that the corpus converges well inside the budget, and callers with
    deeper peel cascades raise ``rounds``).

    Scale shape: each round is one total-degree aggregation (map-side
    partial) plus two semi-joins of the live edge set against the
    surviving-node set — cost proportional to the still-live subgraph,
    which shrinks monotonically. Each round's survivor set references
    the live set ~5× (degree union twice, semi-join keep twice, join
    left side once), so unlike the PageRank recurrence (linear lineage,
    cadence-8 checkpoints) the plan tree grows EXPONENTIALLY per round
    — plan printing alone OOMs the driver by round 6. The live table is
    therefore localCheckpoint()ed every round, same as the
    pointer-jumping loop in components.py (at cluster scale these
    become reliable df.checkpoint()s).
    """
    live = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()

    # Peel shape note (r6): a single-consumption explode + window +
    # regroup peel (linear lineage, checkpoint every 3 rounds) was
    # built and measured SLOWER — interleaved A/B best-of-3 at
    # sf0.1/32c: 8.8 s (this shape, no check) vs 11.7 s — two full
    # shuffles of 2|E| endpoint rows per round cost more than the
    # degree aggregate + two broadcast semi-joins over the
    # checkpointed table. The r5 shape stays.
    def peel(live: DataFrame) -> DataFrame:
        deg = (
            live.select(F.col("u").alias("node"))
            .unionAll(live.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        return live.join(
            keep.withColumnRenamed("node", "u"), "u", "left_semi"
        ).join(keep.withColumnRenamed("node", "v"), "v", "left_semi")

    for _ in range(rounds):
        live = live.localCheckpoint()
        live = peel(live)
    if check_converged:
        # r6 convergence contract (VERDICT r5 #3, matching the
        # circuit-breaker contract of paths.closure_all): a deeper peel
        # cascade than ``rounds`` must FAIL LOUDLY, not silently return
        # a superset of the k-core. One extra peel over the (small,
        # converged) survivor set costs two counts; a fixpoint is
        # reached iff it removes no edge. The checkpoint also pins the
        # converged edge set so the final aggregation below reads it
        # instead of re-running the peel lineage.
        live = live.localCheckpoint()
        before = live.count()
        after = peel(live).count()
        if after != before:
            raise RuntimeError(
                f"kcore_nodes did not converge within rounds={rounds}: "
                f"one more peel removed {before - after} edges; raise "
                "the round budget for this graph's peel depth"
            )
    return (
        # explode, not a two-arm union: the final live is consumed
        # ONCE, so with check_converged=False the peel lineage is not
        # executed twice
        live.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("core_deg"))
    )


def khop_distances(
    edges: DataFrame, seeds: DataFrame, k: int = KHOP_DEFAULT_K, reverse: bool = True
) -> DataFrame:
    """(node, dist): min-hop distance (0..k) from the ``seeds`` node
    set. ``reverse=True`` walks edges backwards — "which nodes REACH a
    seed within k hops" (the provenance direction: what feeds entity
    X). Frontier-at-a-time BFS: round d joins only the round-(d-1)
    frontier against the edge table and anti-joins the settled set, so
    per-round work is proportional to the frontier's incident edges.

    NOTE: unlike the other operators this function EXECUTES the BFS
    when called — the loop's early exit needs each round's frontier
    materialized (isEmpty). Timing it means timing the call itself,
    not just an action on the returned DataFrame."""
    step = (
        edges.select(F.col("dst").alias("frm"), F.col("src").alias("to"))
        if reverse
        else edges.select(F.col("src").alias("frm"), F.col("dst").alias("to"))
    ).cache()  # consumed every round, computed once
    # the seed table is referenced by the returned union (cheap to
    # recompute after release); step is loop-local and unpersisted on
    # exit — the BFS has executed by then, nothing references it
    dist = scratch.track(
        seeds.select("node", F.lit(0).cast("int").alias("dist")).distinct()
    )
    frontier = dist.select("node")
    try:
        for d in range(1, k + 1):
            nxt = (
                step.join(frontier.select(F.col("node").alias("frm")), "frm")
                .select(F.col("to").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .select("node", F.lit(d).cast("int").alias("dist"))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            # no checkpoint: dist is a flat union of already-checkpointed
            # frontiers (plus the seed table), free to recompute — only the
            # per-round frontier needs materializing
            dist = dist.unionByName(nxt)
            frontier = nxt
    finally:
        step.unpersist()
    return dist
