"""Connected components over a pair/edge relation — the cluster-resolution
step of every dedup pipeline (near-dup PAIRS are not deliverable; the
training pipeline needs CLUSTERS with one canonical keeper per cluster,
e.g. the MinHash banding output of dedup.py fed through this).

Algorithm: min-label propagation with pointer jumping (the DataFrame form
of large-star/small-star — Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14). Each iteration (a) pulls the min label
across neighbors, then (b) pointer-jumps: re-labels every node with its
label's *own* label, halving label-chain depth. Together these converge
in O(log diameter) iterations instead of O(diameter) — a 33-node path
resolves in ~6 rounds, and real near-dup graphs (tiny star/clique
clusters) in 2-3.

Scale shape per iteration: two shuffle joins on narrow (node, label)
rows + one groupBy min. The edge relation, the first labels and each
iterate are lazily localCheckpoint-ed: the checkpoint truncates lineage
to materialized blocks, so planning stays O(1) per iteration (without
it the logical plan compounds and after ~25 rounds the driver OOMs just
*rendering* it). Each iterate carries its previous label, so the
convergence check is one scan of the checkpoint, which is also the scan
that materializes it. On a real cluster use `checkpoint()` against
reliable storage instead (survives executor loss); localCheckpoint is
the right call in local mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.relational import local_frame

# Lineage-cut cadence for the FIXED-iteration loops (pagerank, label
# propagation): a checkpoint per iterate costs one scheduled job per
# round — the dominant fixed cost at bench scale — while a handful of
# join+groupBy rounds pipeline fine as one query. Loops longer than
# this still truncate their plans periodically (the connected_components
# driver-OOM class the per-iterate discipline was built for).
_CHECKPOINT_EVERY = 8


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve undirected edges into components: returns (node, component)
    where component = min node id reachable — a deterministic canonical
    representative (the keeper in dedup usage).

    Isolated nodes don't appear (callers union them back if the full node
    relation matters; for dedup, non-paired docs are trivially their own
    keeper and never need the join).
    """
    sym = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).unionAll(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
    sym = sym.distinct().localCheckpoint(eager=False)

    labels = sym.groupBy("node").agg(F.min("nbr").alias("nbr_min"))
    labels = labels.select(
        "node", F.least(F.col("node"), F.col("nbr_min")).alias("component")
    ).localCheckpoint(eager=False)

    for _ in range(max_iter):
        # (a) candidate label via neighbors: min over nbr's current component
        via_nbr = (
            sym.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = labels.join(via_nbr, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_comp", F.col("component"))
            ).alias("component"),
            F.col("component").alias("prev"),
        )
        # (b) pointer jump: component -> that component's own label, halving
        # chain depth each round (turns O(diameter) into O(log diameter))
        jump = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("comp2")
        )
        new_labels = (
            stepped.join(jump, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("comp2", F.col("component"))
                ).alias("component"),
                "prev",
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.where(F.col("component") != F.col("prev")).limit(1).count()
        )
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep: str = "min_id",
    quality: DataFrame | None = None,
    q_id: str = "doc_id",
    q_score: str = "score",
) -> DataFrame:
    """Duplicate-cluster table from near-dup pairs: (doc_id, keep_id,
    cluster_size). Rows with doc_id != keep_id are the ones an
    exact-once corpus drops.

    ``keep`` picks the survivor (the same two policies as
    ``similarity.semdedup``):

    - ``"min_id"`` — keep_id = min id in the component (simplest
      deterministic choice; the component label itself).
    - ``"best"`` — keep_id = the member with the highest ``quality``
      score (``quality`` is a (q_id, q_score) relation, e.g. the text
      quality report); score is rounded 6 dp so the priority order is
      engine-portable, ties break to the lowest id, and members missing
      from ``quality`` rank last.  One groupBy over the component
      relation (max_by on a (score, -id) struct — no window over raw
      members), then a component-keyed join back.
    """
    comp = connected_components(pairs, id_a, id_b)
    if keep == "min_id":
        from pyspark.sql import Window

        w = Window.partitionBy("component")
        return comp.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("keep_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
    if keep != "best":
        raise ValueError(f"unknown keep policy: {keep!r}")
    if quality is None:
        raise ValueError('keep="best" requires a quality relation')
    q = quality.select(
        F.col(q_id).alias("node"), F.round(F.col(q_score), 6).alias("_q")
    )
    m = comp.join(q, "node", "left")
    best = m.groupBy("component").agg(
        F.max_by(
            "node",
            F.struct(
                F.coalesce(F.col("_q"), F.lit(float("-inf"))).alias("q"),
                (-F.col("node")).alias("t"),
            ),
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (
        m.select("node", "component")
        .join(best, "component")
        .select(F.col("node").alias("doc_id"), "keep_id", "cluster_size")
    )


def triangle_stats(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Triangle census of an undirected edge list (edges canonical
    ``src < dst``): one row — (n_edges, n_wedges, n_triangles,
    clustering_coefficient = 3·triangles/wedges) — the cluster-quality
    audit for a near-dup pair graph: a high coefficient says candidate
    pairs close into genuine duplicate cliques; a low one says the pair
    generator is chaining unrelated docs through hubs (the
    boilerplate-shingle signature).

    Compact-forward counting: every triangle a<b<c is counted exactly
    once by joining (a,b)+(b,c)+(a,c) — two shuffle joins on the edge
    relation, never an explosion beyond the wedge count. Wedges come
    from the degree relation (Σ d·(d−1)/2, exact integers).
    """
    # the edge relation feeds five consumers (degree, wedges, both join
    # sides, the edge count) — materialize the upstream pair generator
    # (often an expensive shingle self-join) exactly once
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
        F.sum(F.lit(1)).alias("__nv"),
    ).select("n_wedges")
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_e.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)).alias("clustering_coefficient"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Bounded-iteration PageRank over an UNDIRECTED edge relation
    (symmetrized internally) — centrality in the near-dup candidate
    graph: a template/boilerplate hub that blocks against hundreds of
    documents scores high even when no single pair-score stands out, so
    this ranks what the pairwise operators can't see. Returns
    (node, rank) with ranks summing to ~1; r₀ = 1/N,
    r_{t+1}(v) = (1−d)/N + d·Σ_{u∈N(v)} r_t(u)/deg(u) (Page et al.
    1999; symmetric graphs have no dangling mass by construction —
    every node in the relation has degree ≥ 1).

    Scale shape per iteration: ONE equi-join of the (node, rank/deg)
    relation onto the symmetrized edges + ONE groupBy (the zero-
    contribution union restores isolated-in-degree nodes inside the same
    aggregation — no join-back) — the standard relational PageRank; the
    iterates form a linear chain, pipelined as one query with a lineage
    cut every ``_CHECKPOINT_EVERY`` rounds. A FIXED
    iteration count keeps the operator deterministic and oracle-
    replayable; PageRank error decays as d^t, so 5 iterations bound the
    sup error by d⁵ ≈ 0.44·‖r₀−r*‖ — pass more for tighter ranks.
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    # symmetrize via union: it evaluates the upstream edge relation in
    # TWO branches, but the branches run in parallel and keep the narrow
    # per-branch projection — measured 4x faster than the single-pass
    # explode(array(struct…)) form at sf0.1 (5.4 s vs 21.1 s; the
    # Generate serializes what the union parallelizes). Callers with an
    # expensive edge build should checkpoint it before passing it in.
    sym = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionAll(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return local_frame(edges.sparkSession, [], "node long, rank double")
    base = F.lit((1.0 - damping) / n_nodes)
    # EAGER: the pipelined loop below reads sym from FIVE joins inside
    # one query — a lazy checkpoint materializes on first touch, and
    # concurrent map stages that race ahead of the persist re-run the
    # whole pair-generator upstream; eager materialization makes the
    # loop-invariant relations single-evaluation by construction.
    sym = sym.localCheckpoint(eager=True)
    deg_c = deg.localCheckpoint(eager=True)
    # One zero-contribution row per node, carrying deg: unioned into the
    # contribution relation each round so the SAME groupBy that sums the
    # in-flow also restores isolated-in-degree nodes AND re-attaches deg
    # — each iteration is ONE edge join + ONE groupBy, with no second
    # join-back per round (the +0.0 term is float-exact).
    zero = deg_c.select(
        "src", F.col("deg").alias("z_deg"), F.lit(0.0).alias("c")
    )
    # ranks carries deg so the edge join needs no deg lookup
    ranks = deg_c.select("src", "deg", F.lit(1.0 / n_nodes).alias("rank"))
    for it in range(int(iterations)):
        contrib = ranks.join(sym, "src").select(
            F.col("dst").alias("src"),
            F.lit(None).cast("long").alias("z_deg"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        ranks = (
            contrib.unionAll(zero)
            .groupBy("src")
            .agg(F.max("z_deg").alias("deg"), F.sum("c").alias("in_sum"))
            .select(
                "src",
                "deg",
                (base + F.lit(damping) * F.col("in_sum")).alias("rank"),
            )
        )
        # Cut lineage only every few rounds: a per-iterate checkpoint
        # costs one scheduled job per round (the dominant fixed cost of
        # the loop — 55 jobs for 5 iterations measured at sf0.1), while
        # a small fixed iteration count pipelines fine as ONE query.
        # Long loops still truncate the plan periodically.
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("src").alias("node"), "rank")


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan
    et al. 2007) over an undirected edge relation — the soft-clustering
    complement to :func:`connected_components`: CC merges everything
    reachable (one bridge edge fuses two template families), LPA keeps
    densely-linked groups separate because a label must win a majority
    of a node's neighborhood, not merely touch it.

    Determinism (the published algorithm breaks ties randomly and
    updates asynchronously — neither survives an oracle): updates are
    SYNCHRONOUS, every node casts ONE self-vote (damps the two-cycle
    oscillation synchronous LPA is known for on bipartite structure),
    ties break (count desc, label asc), and the iteration count is
    FIXED. Returns (node, community).

    Scale shape per iteration: one equi-join of (node, label) onto the
    self-loop-augmented symmetrized edges + one (node, label) count +
    one per-node argmax — all key-partitioned; the iterates form a
    linear chain with `labels` LAZILY localCheckpointed each round (the
    fully pipelined variant measured slower at bench scale — the
    12-exchange single query pays AQE replanning per stage; unlike
    pagerank there is no ``_CHECKPOINT_EVERY`` cadence here).
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}"
        )
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # The self-vote rides the edge relation as ONE explicit self-loop per
    # node (appended unconditionally — exactly the one vote the previous
    # `votes = nbr_votes ∪ labels` union contributed), so each iteration
    # consumes `labels` exactly ONCE. That linearizes the lineage: the
    # old shape read labels twice per round, which forced a checkpoint
    # every iterate (one scheduled job per round — 33 jobs for 4
    # iterations measured at sf0.1) to stop the plan doubling.
    # EAGER for the same reason as pagerank: the pipelined loop reads
    # sym2 from every iteration's join inside one query
    sym2 = sym.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for it in range(int(iterations)):
        votes = sym2.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        counts = votes.groupBy("node", "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        # argmax with deterministic tie-break: min over (-count, label)
        best = counts.groupBy("node").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
            ).alias("b")
        )
        labels = best.select("node", F.col("b.l").alias("lbl")).localCheckpoint(
            eager=False
        )
    return labels.select("node", F.col("lbl").alias("community"))


def _markov_local_rows(
    trans: DataFrame,
    src: str,
    dst: str,
    weight: str,
    local_rows_limit: int,
) -> list | None:
    """Collect the bounded transition relation for the driver-side power
    method, or ``None`` when it exceeds ``local_rows_limit`` rows (the
    caller then falls back to the distributed loop).  Rows are sorted
    (src, dst, weight) so the driver-side float summation order is
    deterministic across runs."""
    rows = (
        trans.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight).cast("double").alias("w"),
        )
        .limit(local_rows_limit + 1)
        .collect()
    )
    if len(rows) > local_rows_limit:
        return None
    none_low = lambda v: (v is None, v)  # noqa: E731 — null sorts first
    return sorted(rows, key=lambda r: (none_low(r["s"]), none_low(r["d"]), r["w"]))


def _markov_local_power(rows: list, iterations: int):
    """Driver-side replay of the SAME row-normalize + self-loop-patch +
    fixed-iteration power method the distributed loop runs: returns
    (states, pi) with states sorted (null first) and pi a dict.  Per-ROW
    arithmetic is identical to the relational form (duplicate (s, d)
    rows contribute per-row, exactly like the join + groupBy sum)."""
    states = sorted(
        {r["s"] for r in rows} | {r["d"] for r in rows},
        key=lambda v: (v is None, v),
    )
    tot: dict = {}
    for r in rows:
        tot[r["s"]] = tot.get(r["s"], 0.0) + r["w"]
    # (s, d, p) triples; dangling states self-loop with p=1 (absorbing patch)
    triples = [(r["s"], r["d"], r["w"] / tot[r["s"]]) for r in rows]
    triples += [(s, s, 1.0) for s in states if s not in tot]
    n = len(states)
    pi = {s: 1.0 / n for s in states}
    for _ in range(int(iterations)):
        nxt: dict = {}
        for s, d, p in triples:
            if s in pi:
                nxt[d] = nxt.get(d, 0.0) + pi[s] * p
        pi = nxt  # pure-source states drop out, exactly like the groupBy
    return states, pi


def markov_stationary(
    trans: DataFrame,
    src: str = "prev_t",
    dst: str = "next_t",
    weight: str = "n",
    iterations: int = 16,
    strategy: str = "auto",
    local_rows_limit: int = 65536,
) -> DataFrame:
    """Stationary distribution of a finite Markov chain by the power
    method over a (src, dst, count) transition relation — where a user
    journey SETTLES: the transition matrix says what follows what; π
    says what fraction of the long-run stream each state owns, the
    equilibrium the per-state volumes drift toward. Row-normalizes
    counts to P(dst|src); π₀ uniform; π_{t+1}(j) = Σ_i π_t(i)·P(i,j)
    for a FIXED iteration count (deterministic, oracle-replayable —
    the pagerank convention; error decays with the chain's second
    eigenvalue). States with no outgoing transitions get a self-loop
    (the standard absorbing-state patch, documented). Returns
    (state, pi), π summing to ~1.

    Scale shape: the transition relation is |S|²-bounded — the
    bounded-categorical contract (state = an enum, not an id) — so by
    default (``strategy='auto'``) it is collected once and the fixed
    iteration count runs as driver-side float math (the isotonic-PAV /
    effective-rank convention for bounded relations: model-parameter-
    sized data should not pay 16 distributed join+groupBy rounds — the
    relational loop cost ~50 AQE jobs and ~3 s of pure scheduling at
    sf0.1; the local replay is one collect).  Inputs over
    ``local_rows_limit`` rows fall back to the distributed loop
    (``strategy='distributed'`` forces it): one equi-join of the π
    relation onto the transition relation + one groupBy per iteration,
    iterates localCheckpoint-ed so the plan stays O(1) deep.  Both
    strategies replay the SAME per-row arithmetic; they differ only in
    float summation order, inside the engine-rounding tolerance every
    face already carries for DuckDB-vs-Spark order differences.
    """
    if iterations < 1:
        raise ValueError(
            f"markov_stationary: iterations must be >= 1, got {iterations}"
        )
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError("strategy must be auto|local|distributed")
    if strategy != "distributed":
        rows = _markov_local_rows(trans, src, dst, weight, local_rows_limit)
        if rows is None and strategy == "local":
            raise ValueError(
                "markov_stationary: transition relation exceeds "
                f"local_rows_limit={local_rows_limit} rows — pass "
                "strategy='distributed' (or raise the limit)"
            )
        if rows is not None:
            if not rows:
                return local_frame(trans.sparkSession, [], "state string, pi double")
            from pyspark.sql.types import DoubleType, StructField, StructType

            _, pi = _markov_local_power(rows, iterations)
            schema = StructType(
                [
                    StructField("state", trans.schema[src].dataType),
                    StructField("pi", DoubleType()),
                ]
            )
            out = sorted(pi.items(), key=lambda t: (t[0] is None, t[0]))
            return local_frame(
                trans.sparkSession,
                [(s, float(v)) for s, v in out], schema
            )
    states = (
        trans.select(F.col(src).alias("s"))
        .union(trans.select(F.col(dst).alias("s")))
        .distinct()
    )
    out_tot = trans.groupBy(F.col(src).alias("s")).agg(
        F.sum(weight).alias("tot")
    )
    p = trans.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
    ).join(out_tot, "s").select(
        "s", "d", (F.col("w") / F.col("tot")).alias("p")
    )
    # absorbing-state patch: states with no outgoing edges self-loop
    dangling = states.join(out_tot, "s", "left_anti").select(
        "s", F.col("s").alias("d"), F.lit(1.0).alias("p")
    )
    p = p.unionByName(dangling).localCheckpoint(eager=False)
    n_states = states.count()
    if n_states == 0:
        return local_frame(trans.sparkSession, [], "state string, pi double")
    pi = states.select("s", F.lit(1.0 / n_states).alias("pi")).localCheckpoint(
        eager=False
    )
    for _ in range(int(iterations)):
        pi = (
            pi.join(p, "s")
            .groupBy(F.col("d").alias("s"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
            .localCheckpoint(eager=False)
        )
    return pi.select(F.col("s").alias("state"), "pi")


def markov_entropy_rate(
    trans: DataFrame,
    src: str = "prev_t",
    dst: str = "next_t",
    weight: str = "n",
    iterations: int = 16,
    strategy: str = "auto",
    local_rows_limit: int = 65536,
) -> DataFrame:
    """Entropy rate of a finite Markov chain — how PREDICTABLE the next
    event is given the current one: H = −Σ_i π_i Σ_j P_ij·ln P_ij
    (Shannon, nats per transition), the journey-complexity scalar the
    transition matrix and stationary distribution together imply. A
    bot replaying one loop scores ~0; uniform wandering scores ln k —
    so the normalized form is a behavioral-anomaly feature. Returns
    one row: (n_states, entropy_rate, entropy_rate_norm); the
    normalizer is ln(n_states) (1.0 = maximally unpredictable).

    Shape: π from :func:`markov_stationary` (bounded-categorical power
    method), one join of π onto the per-state conditional entropies,
    one reduce. Self-loop-patched dangling states contribute 0 entropy
    (ln 1), consistently with their absorbing semantics.  Like
    ``markov_stationary``, the default ``strategy='auto'`` collects the
    |S|²-bounded transition relation ONCE and finishes π AND the
    conditional entropies driver-side (one Spark job total instead of
    ~55 — the stationary face's rationale applies doubly here, since
    the relational form re-ran the whole 16-iteration power method just
    to consume π); over-limit inputs fall back to the distributed form.
    """
    if iterations < 1:
        raise ValueError(
            f"markov_entropy_rate: iterations must be >= 1, got {iterations}"
        )
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError("strategy must be auto|local|distributed")
    if strategy != "distributed":
        rows = _markov_local_rows(trans, src, dst, weight, local_rows_limit)
        if rows is None and strategy == "local":
            raise ValueError(
                "markov_entropy_rate: transition relation exceeds "
                f"local_rows_limit={local_rows_limit} rows — pass "
                "strategy='distributed' (or raise the limit)"
            )
        if rows is not None:
            import math as _math

            if not rows:  # empty chain: count 0, NULL rate, norm 0.0
                return local_frame(
                    trans.sparkSession,
                    [(0, None, 0.0)],
                    "n_states bigint, entropy_rate double, "
                    "entropy_rate_norm double",
                )
            _, pi = _markov_local_power(rows, iterations)
            tot: dict = {}
            for r in rows:
                tot[r["s"]] = tot.get(r["s"], 0.0) + r["w"]
            hs: dict = {}
            for r in rows:  # per-ROW terms, like the relational form
                q = r["w"] / tot[r["s"]]
                hs[r["s"]] = hs.get(r["s"], 0.0) - q * _math.log(q)
            n_states = len(pi)
            h = (
                sum(
                    pi[s] * hs.get(s, 0.0)
                    for s in sorted(pi, key=lambda v: (v is None, v))
                )
                if n_states
                else None
            )
            norm = (
                h / _math.log(float(n_states))
                if (n_states or 0) > 1
                else 0.0
            )
            return local_frame(
                trans.sparkSession,
                [(n_states, h, norm)],
                "n_states bigint, entropy_rate double, entropy_rate_norm double",
            )
    pi = markov_stationary(
        trans, src, dst, weight, iterations, strategy="distributed"
    )
    out_tot = trans.groupBy(F.col(src).alias("s")).agg(
        F.sum(weight).alias("tot")
    )
    hs = (
        trans.select(
            F.col(src).alias("s"), (F.col(weight).cast("double")).alias("w")
        )
        .join(out_tot, "s")
        .groupBy("s")
        .agg(
            (
                -F.sum(
                    (F.col("w") / F.col("tot"))
                    * F.log(F.col("w") / F.col("tot"))
                )
            ).alias("h_s")
        )
    )
    j = pi.join(hs, pi["state"] == hs["s"], "left").select(
        "state", "pi", F.coalesce("h_s", F.lit(0.0)).alias("h_s")
    )
    g = F.count(F.lit(1)).cast("bigint")
    h = F.sum(F.col("pi") * F.col("h_s"))
    norm = F.when(g > 1, h / F.log(g.cast("double"))).otherwise(F.lit(0.0))
    return j.agg(
        g.alias("n_states"),
        h.alias("entropy_rate"),
        norm.alias("entropy_rate_norm"),
    )
