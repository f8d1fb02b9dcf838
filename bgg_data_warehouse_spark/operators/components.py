"""Connected components over a pair graph — duplicate-cluster collapse.

A near-dup stage (MinHash/SimHash/Jaccard) emits PAIRS; a training-data
pipeline needs CLUSTERS: every document mapped to one canonical
representative so the cluster can be collapsed to a single kept doc.
Pairs are the edges of an undirected graph; the canonical id is the
minimum doc id reachable from each node (= min id in its component).

Implementation is hash-min label propagation, the standard distributed
CC algorithm: every node starts labeled with itself, and each round
every node takes the min of its own label and its neighbors' labels,
until a fixed point. Rounds needed = graph diameter. Dedup-cluster
graphs are dense blobs with tiny diameter (every member pairs with most
others), so 2-3 rounds close them; the iteration cap is a guard, not a
budget.

Scale notes (100 TB):

- each round is one shuffle: labels ⋈ edges (hash-partitioned on node)
  then a min-aggregate — no driver-side graph state, labels never leave
  the cluster. The driver loop only reads a changed-row COUNT per round
  (a scalar), which is orchestration, not data movement.
- lineage is truncated every round (localCheckpoint) — without it the
  plan doubles per iteration and the optimizer chokes around round 8.
- for adversarial graphs (long chains, diameter ≫ rounds) switch to the
  large-star/small-star algorithm (Kiveris et al., "Connected Components
  in MapReduce and Beyond", SoCC'14) which converges in O(log² n)
  rounds; hash-min is the right default for dedup clusters where the
  diameter is structurally small.

Reference parity: the reference has no cluster-collapse operator (its
dedup is exact-key MERGE, services/../load.py); this extends the near-dup
family SURVEY §2.9 scopes for LLM-pipeline use.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import iterative
from .iterative import iteration_shuffle_width as _iteration_shuffle_width

# Absolute ceiling on the affected-MEMBER frame the delete-localization
# semi may broadcast (ADVICE r14 — the log_store._hint_broadcast
# discipline one layer down). 8M node ids at ≤32 B each is ≤256 MB
# in-executor, the same envelope as log_store.BROADCAST_TOUCHED_MAX_ROWS;
# above it the semi goes unhinted and AQE plans from runtime sizes.
AFFECTED_BROADCAST_MAX_ROWS = 8_000_000


class _DeleteRelabel(NamedTuple):
    """Result of :func:`_delete_affected_relabel` (r15: widened so the
    change-set variant can reuse work instead of re-deriving it with
    fresh corpus scans). ``new_pairs``/``member_set`` are only set when
    the epoch resolved on the driver (the common delta shape)."""

    affected: DataFrame
    new_aff: DataFrame
    aff_vals: list | None
    aff_nodes: DataFrame | None
    new_pairs: list | None
    member_set: set | None


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    canonical_edges: bool = False,
) -> DataFrame:
    """Map every node of the undirected pair graph to its component min.

    Returns (node, canonical) for every node appearing in ``edges``;
    ``canonical`` is the smallest node id in the component. Raises if the
    fixed point is not reached within 25 rounds (dedup-cluster graphs
    converge in a handful; hitting the cap means the input is not a
    near-dup pair graph — see module docstring for the O(log² n)
    alternative). Each round's state is a ``localCheckpoint`` (lineage
    truncated, state in the executors' block managers).
    """
    # Materialize the DIRECTED pair set first: union branches are not
    # common-subexpression-eliminated, so orienting both ways off the raw
    # ``edges`` plan would run the (potentially expensive — minhash
    # pair-gen) upstream TWICE inside one job. Pinning before the union
    # makes the swap branch a cheap re-scan of the checkpoint.
    base = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    # Undirect the edges; both orientations are needed so the min can
    # flow either way across a pair. ``canonical_edges=True`` (the pair
    # source already guarantees distinct a < b pairs — every dedup pair
    # generator here does) skips the dedup shuffle: the two orientations
    # are then disjoint and individually distinct.
    und = base.union(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if not canonical_edges:
        # the dedup shuffle is real work — checkpoint its result; the
        # canonical case leaves ``und`` as a zero-cost double-scan of the
        # checkpoint
        und = und.distinct().localCheckpoint(eager=True)
    with _iteration_shuffle_width(und.sparkSession, und.count()):
        labels = (
            und.select(F.col("a").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("canonical"))
            .localCheckpoint(eager=True)
        )
        def _vote_round(lbl: DataFrame) -> DataFrame:
            # neighbor labels: for edge (a,b), a's current label is a
            # candidate for b. Union with own label, take the min.
            cand = und.join(lbl.withColumnRenamed("node", "a"), "a").select(
                F.col("b").alias("node"), "canonical"
            )
            return (
                lbl.union(cand)
                .groupBy("node")
                .agg(F.min("canonical").alias("canonical"))
            )

        prev_sum = None
        for _ in range(25):
            # The round state is a LAZY localCheckpoint whose FIRST
            # action is the convergence aggregate, so one round costs
            # ONE Spark job instead of two (eager checkpoint + sum —
            # r15, guide §2.6; composing two vote rounds per
            # materialization was ALSO measured and rejected: the
            # stopping rule then overshoots by a full extra round of
            # |E|-sized work, which cost more than the saved job floor
            # on the fast-converging dup-blob graphs).
            # labels are monotonically non-increasing, so the fixed
            # point is reached exactly when the label sum stops falling
            # — a scalar aggregate instead of a join-based diff.
            # decimal(38,0): ANSI mode would overflow-error a long sum
            # of 10⁹ node ids.
            new_labels = _vote_round(labels).localCheckpoint(eager=False)
            cur_sum = new_labels.agg(
                F.sum(F.col("canonical").cast("decimal(38,0)"))
            ).collect()[0][0]
            labels = new_labels
            if cur_sum == prev_sum:
                return labels
            prev_sum = cur_sum
    raise RuntimeError(
        "connected_components did not converge in 25 rounds — "
        "the input graph's diameter exceeds the hash-min budget"
    )


def connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    canonical_edges: bool = False,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14) — the O(log² n)-round variant for graphs whose diameter is
    NOT structurally small (long chains, adversarial shapes) where
    hash-min label propagation would need diameter rounds.

    Each round rewrites the edge set against per-node minima:

    - large-star: for every node u, connect each strictly-larger
      neighbor v > u to m(u) = min(u's neighborhood ∪ {u});
    - small-star: for every node u, connect each neighbor v <= u
      (and u itself) to m(u).

    Both steps are one groupBy(node) min + one join — two shuffles per
    round, no driver-side graph state — and monotonically contract every
    component toward its minimum until the edge set is a star centered on
    it. Returns (node, canonical) like ``connected_components``.

    A FOREST-CONTRACTION phase (r8 VERDICT #4) runs
    before any star rewrite: one min-aggregate builds parent pointers
    m(u) = min(Γ(u) ∪ {u}) — a forest, since every non-root points to a
    strictly smaller node — then pointer jumping (label ← label∘label,
    a |V|-sized self-join per round, NO edge state) flattens every tree
    to its root in O(log depth) rounds, and one quotient pass contracts
    each tree to its root. The star loop then iterates on the quotient
    graph only. This targets exactly the shape where the fused star
    rewrite is slowest: on a key-SORTED chain m is a single deep tree
    per chain, so the quotient has NO edges left and star confirms the
    fixed point on an empty set in one round — versus 7 full-size
    rewrites with the edge set transiently inflated to ~4.1× (bounded
    hash-min was measured and rejected for the same fixture: k rounds
    only shorten a sorted chain by k nodes). Correctness is the
    standard contraction argument: every root is a member of its
    component, the quotient preserves connectivity exactly, and the
    component's global min is always a root (it is its own neighborhood
    min), so star-on-quotient returns the true component min and the
    composed labels are IDENTICAL to star-on-raw — the
    ``components_star_chains`` oracle hash-checks this. Measured at
    sf0.1 (order chains, 135k edges, local[32], warm): pure star 8.2 s
    → contract-then-star 4.9 s, same output hash.
    """
    # canonical undirected edge list, self-loops dropped.
    # ``canonical_edges=True`` lets callers whose pair source already
    # guarantees distinct (min, max) pairs — lead()-derived chains,
    # dedup pair generators emitting a < b — skip the prep shuffle.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not canonical_edges:
        e = (
            e.where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )
    # lazy: the sizing signature right below is the materializing
    # action (one job), and every later consumer re-reads the persisted
    # partitions (r15, guide §2.6)
    e = e.localCheckpoint(eager=False)

    def _sig(df: DataFrame) -> tuple:
        """One-scan aggregate signature of an edge set: count + endpoint
        sums + an order-independent hash sum. A per-round exceptAll diff
        would cost two extra full scans every round; the signature is one
        tiny agg job, and the exact exceptAll check runs ONCE, only to
        confirm the round the signature stops moving."""
        # decimal(38,0) sums: ANSI mode is on, and a long sum of 64-bit
        # hashes (or of 100 TB worth of node ids) would overflow-error
        dec = "decimal(38,0)"
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("u").cast(dec)).alias("su"),
            F.sum(F.col("v").cast(dec)).alias("sv"),
            F.sum(F.xxhash64("u", "v").cast(dec)).alias("h"),
        ).collect()[0]
        return (r.n, r.su, r.sv, r.h)

    def _round(edges_df: DataFrame) -> DataFrame:
        # star rewrite: EVERY neighbor of u, and u itself, attaches to
        # m(u) = min(Γ(u) ∪ {u}). This is large-star (nbr > node) and
        # small-star (nbr <= node, plus the self edge) fused into one
        # join — the two branches filter the same (nbrs ⋈ m) with
        # complementary predicates, so the union is the unfiltered join
        # and Spark runs ONE join per rewrite instead of two.
        # one explicit hash exchange on node, consumed by BOTH the min
        # aggregate and the nbrs⋈m join (their required distribution is
        # exactly HashPartitioning(node), so neither inserts another
        # shuffle) — 3 exchanges/round → 2, measured ~16% per-round win
        nbrs = (
            edges_df.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
            .union(
                edges_df.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
            )
            .repartition("node")
        )
        m = (
            nbrs.groupBy("node")
            .agg(F.min("nbr").alias("_mn"))
            .select("node", F.least("_mn", "node").alias("m"))
        )
        return (
            nbrs.join(m, "node")
            .select(F.col("nbr").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("node").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )

    def _star(e0: DataFrame, nodes0: DataFrame) -> DataFrame:
        """The star loop proper: (node, canonical) for every node of
        ``nodes0`` given the canonical edge set ``e0``."""
        ee = e0
        sig = _sig(ee)
        if sig[0] == 0:
            # no edges: every node is its own component — the loop
            # would spend ~4 jobs (rewrite checkpoint, signature,
            # confirm) proving an empty set is a fixed point. This is
            # the COMMON phase-2 shape on contraction-friendly graphs
            # (sorted chains quotient to zero edges), so the early exit
            # removes the whole star phase from those plans (r15,
            # guide §2.6). Identical output by the mins branch below:
            # labels is empty, mins = all of nodes0 self-labeled.
            return nodes0.select(
                "node", F.col("node").alias("canonical")
            )
        for _ in range(40):
            # one rewrite per materialization: composing two rewrites per
            # checkpoint was measured SLOWER (12.8 s vs 9.5 s at sf0.1) —
            # the 6-shuffle composed job costs more than the saved stage
            # barrier, and the transient edge inflation compounds across
            # the unmaterialized middle. LAZY checkpoint: the signature
            # aggregate right below is the materializing action, so a
            # round costs one Spark job, not checkpoint + signature
            # (r15, guide §2.6 — same fuse as connected_components).
            new_e = _round(ee).localCheckpoint(eager=False)
            # converged when the edge set stops changing. The 4-component
            # signature (count, Σu, Σv, order-independent Σxxhash64(u,v))
            # over two DIFFERENT successive edge sets collides with
            # probability ~2⁻⁶⁴ — and the rewrite is a monotone
            # contraction, so a false stop needs exactly such a collision
            # between adjacent rounds. An exact double-check (ADVICE
            # r03 #4) confirms the stop: 4 extra full scans, but only
            # ONCE, at the round the signature stops moving (~1 s at
            # sf0.1).
            new_sig = _sig(new_e)
            # the exact confirm is ONE symmetric multiset-diff job
            # (signed counts sum to 0 per (u,v) iff both exceptAll
            # directions are empty) instead of two exceptAll passes —
            # r15, guide §2.6: same 4-scan read volume, half the jobs
            # at the per-job floor, and a hash aggregate instead of
            # exceptAll's sort-based plan
            def _multiset_equal(a: DataFrame, b: DataFrame) -> bool:
                return (
                    a.select("u", "v", F.lit(1).alias("_s"))
                    .unionAll(b.select("u", "v", F.lit(-1).alias("_s")))
                    .groupBy("u", "v")
                    .agg(F.sum("_s").alias("_d"))
                    .where(F.col("_d") != 0)
                    .limit(1)
                    .count()
                    == 0
                )

            if new_sig == sig and _multiset_equal(new_e, ee):
                ee = new_e
                break
            ee, sig = new_e, new_sig
        else:
            raise RuntimeError(
                "connected_components_star did not converge in 40 rounds"
            )
        # the fixed point is a star: every non-min node has exactly one
        # edge to its component min
        labels = ee.select(F.col("v").alias("node"), F.col("u").alias("canonical"))
        mins = nodes0.join(
            labels.select(F.col("node").alias("n2")),
            F.col("node") == F.col("n2"),
            "left_anti",
        ).select("node", F.col("node").alias("canonical"))
        return labels.union(mins)

    spark = edges.sparkSession
    # ONE scan sizes the shuffle width and spots an empty edge set
    sig_e = _sig(e)
    n_edges = sig_e[0]
    with _iteration_shuffle_width(spark, n_edges):
        if n_edges == 0:  # no edges, no nodes: the empty labeling
            return e.select(F.col("u").alias("node"), F.col("u").alias("canonical"))
        # --- phase 1: forest contraction ---------------------------------
        # parent pointers: m(u) = min(Γ(u) ∪ {u}). Non-roots point to a
        # strictly smaller node, so m is a forest; ``und`` is a zero-cost
        # double scan of the edge checkpoint.
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        part = (
            und.groupBy(F.col("u").alias("node"))
            .agg(F.min("v").alias("_mn"))
            .select("node", F.least("_mn", "node").alias("lab"))
            # lazy: round 1's convergence sum materializes it
            .localCheckpoint(eager=False)
        )
        # pointer jumping: three lab ← lab(lab) hops composed per
        # materialization (|V|-sized self-joins; each hop adds the
        # current map's jump distance, so distance QUADRUPLES per round
        # — unlike the star rewrite, composing jumps costs no transient
        # edge inflation, so deeper composition is pure win here; r15
        # widened 2 hops → 3: one more narrow self-join per round buys
        # log₄ instead of log₃ rounds, dropping a full
        # checkpoint+convergence job pair for tree depths in the
        # 10–64 range the order-chain fixtures live in, and a
        # barrier per saved round at any scale),
        # until every node labels its tree ROOT.
        # Labels are monotonically non-increasing, so the fixed point is
        # exactly when the label sum stops falling (same scalar-agg
        # discipline as connected_components; decimal — ANSI long sums
        # overflow).
        prev_sum = object()
        for _ in range(40):
            hop = part
            for _hops in range(3):
                hop = hop.join(
                    part.select(
                        F.col("node").alias("lab"), F.col("lab").alias("_l2")
                    ),
                    "lab",
                ).select("node", F.col("_l2").alias("lab"))
            # lazy checkpoint: the convergence sum right below is the
            # materializing action — one job per jump round, not two
            # (r15, guide §2.6)
            part = hop.localCheckpoint(eager=False)
            cur_sum = part.agg(
                F.sum(F.col("lab").cast("decimal(38,0)"))
            ).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            raise RuntimeError(
                "pointer jumping did not converge in 40 rounds"
            )
        # --- phase 2: star on the quotient graph -------------------------
        # supernodes = the roots; quotient edges = cross-root edges,
        # re-canonicalized. Components, and their minima, are preserved
        # exactly (see docstring), so the composed output is
        # bit-identical to star-on-raw. On the sorted-chain fixture the
        # quotient is EMPTY and _star returns after one no-op rewrite.
        lu = part.select(F.col("node").alias("u"), F.col("lab").alias("_lu"))
        lv = part.select(F.col("node").alias("v"), F.col("lab").alias("_lv"))
        e2 = (
            e.join(lu, "u")
            .join(lv, "v")
            .where(F.col("_lu") != F.col("_lv"))
            .select(
                F.least("_lu", "_lv").alias("u"),
                F.greatest("_lu", "_lv").alias("v"),
            )
            .distinct()
            # lazy: _star's entry signature materializes it
            .localCheckpoint(eager=False)
        )
        supernodes = part.select(F.col("lab").alias("node")).distinct()
        comp = _star(e2, supernodes)
        # compose: node → root → supernode canonical
        return part.join(
            comp.withColumnRenamed("node", "lab"), "lab"
        ).select("node", "canonical")


def collapse_clusters(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    canonical_pairs: bool = False,
) -> DataFrame:
    """(doc, canonical, is_kept) for EVERY doc: cluster members map to the
    cluster min, singletons to themselves. ``is_kept`` marks the one row
    per cluster a dedup pipeline retains. The component mapping carries
    no broadcast hint — it is proportional to the CLUSTERED doc count,
    which under heavy duplication approaches corpus size; the planner/AQE
    broadcasts it only when runtime stats show it is small."""
    comp = connected_components(
        pairs, "doc_a", "doc_b", canonical_edges=canonical_pairs
    )
    return docs.select(F.col(id_col).alias("doc")).join(
        comp.withColumnRenamed("node", "doc"), "doc", "left_outer"
    ).select(
        "doc",
        F.coalesce("canonical", F.col("doc")).alias("canonical"),
        (F.coalesce("canonical", F.col("doc")) == F.col("doc")).alias("is_kept"),
    )


def incremental_components_update(
    labels: DataFrame,
    delta_edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """Absorb a batch of NEW edges into a stored CC labeling without
    touching the base edge set (r10 VERDICT #4 — the graph twin of
    ``operators.merge.refresh_additive_mv`` and the reference's
    incremental lesson, docs/dataform_operations.md:15, 8 s vs 4+ h).

    ``labels`` is the stored (node, canonical) table for the base graph;
    ``delta_edges`` are edges being appended. Edge ADDITIONS only merge
    components (monotone), so the stored labeling already encodes all
    base connectivity and the base EDGES are never needed:

    1. map each delta endpoint to its stored canonical — nodes absent
       from ``labels`` are new singletons, canonical = self;
    2. contract: each delta edge becomes a SUPER-EDGE between two
       canonicals (same-canonical edges are intra-component no-ops and
       drop out);
    3. run CC on the super-graph — |V| <= 2·|delta|, independent of base
       graph size. Up to ``iterative.DRIVER_SOLVE_MAX`` super-edges this is a
       driver-side union-find: the super-map must be BROADCAST-sized
       for step 4 regardless, so collecting the same-bounded edge set
       adds no new constraint, and a few thousand merge edges resolve
       in microseconds versus ~10 tiny distributed rounds of star CC
       (measured 3.9 s of pure round latency on a 3k-edge super-graph
       at sf0.1). The bound is sized to the driver path's measured
       cost, not just broadcastability: pure-Python union-find is
       ~0.6 s at 200k edges but ~6 s single-threaded at 2M (plus a
       multi-hundred-MB createDataFrame), while ~10 star rounds cost a
       flat ~4 s — so 200k keeps the driver hop strictly cheaper than
       the distributed floor it replaces (ADVICE r11). Past the bound
       the distributed star variant takes over, since merging chain
       segments can itself produce long super-chains;
    4. relabel: broadcast the (old canonical → merged canonical) map
       over ``labels`` ∪ new-node rows — one narrow pass, no shuffle of
       the label table.

    Correctness: every stored canonical is the min node id of its base
    component, and every new node is its own min; the merged component's
    global min is therefore the min over its member super-nodes, which
    is exactly what CC on the super-graph computes. Returns the full
    updated (node, canonical) labeling — hash-gated equal to a full
    recompute on base ∪ delta by the ``cc_incremental_update`` gate.

    Scale shape (100 TB graph, small delta): the delta joins ``labels``
    on node — a broadcast of the delta endpoint set against the stored
    label table, pruned further if ``labels`` is bucketed by node; the
    super-graph CC runs on a delta-sized edge set; the relabel join
    broadcasts the super-map (bounded by |delta| components). Nothing
    scans base edges — tests/test_plan_audit.py pins zero base-edge
    scans in the update plan.
    """
    new_nodes, super_map, _pairs = _update_super_map(
        labels, delta_edges, src, dst
    )
    return (
        labels.unionByName(new_nodes)
        .join(F.broadcast(super_map), "canonical", "left_outer")
        .select(
            "node",
            F.coalesce("merged", F.col("canonical")).alias("canonical"),
        )
    )


def _update_super_map(
    labels: DataFrame,
    delta_edges: DataFrame,
    src: str,
    dst: str,
):
    """Shared core of the addition maintainers: (new_nodes, super_map,
    local_pairs) where ``new_nodes`` are delta endpoints absent from
    ``labels`` (canonical = self), ``super_map`` is the (old canonical
    -> merged canonical) relabel map from CC on the contracted
    super-graph, and ``local_pairs`` is the super-map as a driver-side
    list when the driver union-find solved it (None when the
    distributed star ran). All are delta-bounded."""
    d = delta_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    endpoints = (
        d.select(F.col("a").alias("node"))
        .union(d.select(F.col("b").alias("node")))
        .distinct()
    )
    # stored canonical per delta endpoint; new nodes default to self.
    # The endpoint set is delta-sized — broadcast it so the big label
    # table is probed, never shuffled. New nodes carry a marker at
    # checkpoint time (r15): every later consumer derives them from
    # THIS pinned frame, where the old anti-join form re-evaluated a
    # full merge-on-read label scan per consumer — three scans per
    # epoch for the change-set variant.
    ep_canon = (
        labels.join(F.broadcast(endpoints), "node")
        .withColumn("_new", F.lit(False))
        .unionByName(
            endpoints.join(
                labels.select("node"), "node", "left_anti"
            )
            .select("node", F.col("node").alias("canonical"))
            .withColumn("_new", F.lit(True))
        )
        .localCheckpoint(eager=True)  # reused by both edge endpoints
    )
    new_nodes = ep_canon.where(F.col("_new")).select("node", "canonical")
    ep_plain = ep_canon.select("node", "canonical")
    super_edges = (
        d.join(
            F.broadcast(ep_plain.withColumnRenamed("node", "a")), "a"
        )
        .withColumnRenamed("canonical", "ca")
        .join(F.broadcast(ep_plain.withColumnRenamed("node", "b")), "b")
        .withColumnRenamed("canonical", "cb")
        .where(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("u"), F.greatest("ca", "cb").alias("v")
        )
        .distinct()
    )
    # (old canonical -> merged canonical), only for canonicals whose
    # component actually changed; everything else passes through.
    # Fused size probe + solve input (r15): ONE bounded collect off the
    # live plan replaces the count job plus the union-find's own
    # collect. On the common driver-solve path that collect is the
    # frame's ONLY evaluation, so the eager checkpoint it used to run
    # through was a whole extra job for nothing (its inputs — d and the
    # pinned ep_canon broadcasts — are already stable); only the rare
    # over-bound path re-evaluates once into a checkpoint so the
    # distributed star's rounds don't replay the contraction joins.
    rows = super_edges.limit(iterative.DRIVER_SOLVE_MAX + 1).collect()
    if len(rows) <= iterative.DRIVER_SOLVE_MAX:
        pairs = _union_find_pairs((r[0], r[1]) for r in rows)
        super_map = _driver_relation(
            labels.sparkSession, pairs, "canonical long, merged long"
        )
        return new_nodes, super_map, pairs
    super_map = connected_components_star(
        super_edges.localCheckpoint(eager=True),
        "u", "v", canonical_edges=True
    ).select(
        F.col("node").alias("canonical"), F.col("canonical").alias("merged")
    )
    return new_nodes, super_map, None


def incremental_components_update_delta(
    labels: DataFrame,
    delta_edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """:func:`incremental_components_update`, emitting ONLY the label
    rows an edge-addition batch actually changes — the write-side twin
    the log-structured store needs (r13 VERDICT #5): the full variant's
    output is corpus-sized by construction (every unchanged label rides
    through the relabel join), which is fine for a snapshot rewrite but
    defeats a delta-sized generation append. Returns (node, canonical)
    for exactly (a) members of components whose canonical MERGED (their
    stored canonical maps to a different one in the super-map) and (b)
    delta endpoints new to the graph — replace-by-key rows for
    ``log_store.append_pair_delta``. Additions never remove a node, so
    there are no tombstones. Scale shape: the changed-canonical map is
    delta-bounded and broadcast; the one corpus-sized touch is the
    label-table scan feeding the broadcast semi — the read every
    consumer pays, with nothing corpus-sized shuffled or written.
    Equivalence to the full variant is pinned by
    tests/test_components.py; the end-to-end store is hash-gated by
    ``cc_log_maintenance``."""
    new_nodes, super_map, local_pairs = _update_super_map(
        labels, delta_edges, src, dst
    )
    if local_pairs is not None:
        # driver-solved epoch (the common delta shape): the changed map
        # is already on the driver — filter it in Python and ship a
        # LOCAL relation, which is deterministic and broadcastable with
        # no materialization job (r15; the checkpoint below is only for
        # the distributed solve, whose plan would otherwise re-run for
        # each of the two broadcasts)
        changed_map = _driver_relation(
            labels.sparkSession,
            [p for p in local_pairs if p[0] != p[1]],
            "canonical long, merged long",
        )
    else:
        changed_map = super_map.where(
            F.col("merged") != F.col("canonical")
        ).localCheckpoint(eager=True)  # broadcast twice below
    # ONE pass over the label table (r15): the change set is
    # (members whose canonical merged → new canonical) ∪ (new nodes
    # whose canonical didn't merge) — the old semi + anti pair scanned
    # the corpus twice for it; a single broadcast left join with a
    # _new marker classifies both in one scan. merged IS NULL ∧ ¬_new
    # rows (untouched existing members) drop out exactly as the old
    # inner join dropped them.
    members = labels.withColumn("_new", F.lit(False)).unionByName(
        new_nodes.withColumn("_new", F.lit(True))
    )
    return (
        members.join(F.broadcast(changed_map), "canonical", "left")
        .where(F.col("merged").isNotNull() | F.col("_new"))
        .select("node", F.coalesce("merged", "canonical").alias("canonical"))
    )


def _driver_relation(spark, rows, schema: str) -> DataFrame:
    """Single-slice DataFrame over driver-held rows (r15, guide
    §2.6/§5): a bare ``createDataFrame`` parallelizes its list to
    ``defaultParallelism`` slices, and each slice's evaluation is one
    Python-worker round-trip — so every broadcast build or scan of a
    driver-solved relabel map ran a core-count-wide stage of near-empty
    tasks (measured: 32 tasks / 1.3 s per evaluation at this host's
    floor). Parallelizing to ONE slice makes each evaluation a single
    round-trip (~0.15 s measured, 4x less wall than the wide stage).
    NOT ``coalesce(1)`` — that narrows the 32 slices into one task
    which then pays the 32 round-trips SEQUENTIALLY (measured 6 s,
    worse than either). The maps are delta-bounded by the
    ``iterative.DRIVER_SOLVE_MAX`` contract, so one slice is the right width at
    any cluster size."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1) if rows else rows,
        schema=schema,
    )


def _union_find_pairs(edge_pairs) -> list[tuple]:
    """(member, min-of-group) pairs from a BOUNDED edge iterable via
    driver-side union-find with path compression — the small-graph
    fast path of the incremental maintainers. The second element is
    the MIN member of each merged group (matching the distributed
    star result exactly); only nodes that appear in an edge are
    emitted, so untouched components pass through the relabel join's
    outer side unchanged. Pure driver compute: callers feed it the
    SAME bounded collect they used to size-probe the edge set, so the
    solve adds zero Spark jobs (r15)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root keeps find() roots = group minima
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(x, find(x)) for x in list(parent)] + [
        (r, r) for r in set(map(find, parent))
    ]


def incremental_components_delete(
    labels: DataFrame,
    edges: DataFrame,
    deleted_edges: DataFrame,
    src: str,
    dst: str,
    *,
    canonical_col: str | None = None,
) -> DataFrame:
    """Absorb a batch of edge DELETIONS into a stored CC labeling by
    recomputing ONLY the affected components (r10 VERDICT #4's
    affected-component localization, completing
    :func:`incremental_components_update`, which handles the monotone
    addition case without edges at all). Deletions can SPLIT a
    component, so its edges must be rescanned — but only its:

    1. affected set A = stored canonicals of the deleted edges'
       endpoints (both endpoints of any edge share one) — |A| is
       delta-bounded and broadcast;
    2. localize: keep only edges of components in A. With
       ``canonical_col`` (the production layout: the stored edge table
       carries its component id, e.g. as a partition/bucket column) the
       filter is a scan-side IN-predicate over A — partition pruning
       skips unaffected components' FILES (pinned by
       tests/test_plan_audit.py); otherwise one semi-join via
       ``labels`` derives it;
    3. drop the deleted pairs (orientation-normalized anti-join);
    4. rerun CC on the surviving affected edges — driver union-find
       under ``iterative.DRIVER_SOLVE_MAX`` (the affected subgraph is small when
       deltas touch few components), distributed star above it;
    5. union with the untouched components' labels, passed through
       unread.

    Returns (node, canonical) for every node of the UPDATED graph —
    nodes isolated by the deletions drop out, matching a full recompute
    on ``edges`` ∖ ``deleted_edges`` (hash-gated by
    ``cc_incremental_delete``). Scale shape: one broadcast semi-join
    over the label table, one (pruned) scan of affected edges, CC
    sized by the affected components, never the graph.
    """
    res = _delete_affected_relabel(
        labels, edges, deleted_edges, src, dst,
        canonical_col=canonical_col,
    )
    untouched = labels.join(
        F.broadcast(res.affected), "canonical", "left_anti"
    )
    return untouched.select("node", "canonical").unionByName(res.new_aff)


def _delete_affected_relabel(
    labels: DataFrame,
    edges: DataFrame,
    deleted_edges: DataFrame,
    src: str,
    dst: str,
    *,
    canonical_col: str | None,
):
    """Shared core of the deletion maintainers. Returns a
    :class:`_DeleteRelabel`: the delta-bounded ``affected`` canonical
    set, the recomputed ``new_aff`` labeling of those components'
    surviving nodes, the collected ``aff_vals`` IN-list (annotated
    path), the checkpointed ``aff_nodes`` member frame (semi path),
    and — when the whole epoch resolved on the driver — ``new_pairs``
    (the new labeling as a list) and ``member_set`` (every
    pre-deletion member of an affected component), which let the
    change-set variant emit LOCAL relations with zero further Spark
    jobs (r15)."""
    spark = labels.sparkSession
    d = deleted_edges.select(
        F.least(F.col(src), F.col(dst)).alias("del_u"),
        F.greatest(F.col(src), F.col(dst)).alias("del_v"),
    ).distinct()
    endpoints = (
        d.select(F.col("del_u").alias("node"))
        .union(d.select(F.col("del_v").alias("node")))
        .distinct()
    )
    if canonical_col is not None:
        # annotated-layout regime (r14 VERDICT #4): the endpoint->
        # canonical probe goes through a LITERAL IN-filter instead of a
        # broadcast join, so a label table clustered by node (the
        # compaction layout) row-group-prunes the probe the same way
        # the edge scan below prunes on the annotation — without it the
        # probe is the one remaining corpus-rows scan of the delete
        # epoch. The collect is delta-bounded (2 nodes per deleted
        # edge); past the same cap that bounds the driver union-find we
        # fall back to the broadcast-join probe, which is always
        # correct, merely unpruned.
        ep_vals = [
            r[0] for r in endpoints.limit(iterative.DRIVER_SOLVE_MAX + 1).collect()
        ]
        if len(ep_vals) <= iterative.DRIVER_SOLVE_MAX:
            endpoint_probe = labels.where(F.col("node").isin(ep_vals))
        else:
            endpoint_probe = labels.join(F.broadcast(endpoints), "node")
    else:
        endpoint_probe = labels.join(F.broadcast(endpoints), "node")
    # ONE bounded collect of the delta-bounded (node, canonical) probe
    # (r15): the distinct canonicals (the affected set AND its IN-list)
    # and the deleted-edge member nodes all come out of the same job,
    # where the old shape paid a checkpoint job plus a separate
    # IN-list collect. The affected set becomes a LOCAL relation —
    # deterministic and broadcastable with no pinned executor state.
    # repartition(1) before the take (r15): the probe plan has no
    # exchange, so executeTake over its many scan partitions runs
    # scaleUpFactor rounds of jobs (measured: ~10 jobs for a
    # few-hundred-row probe); through one shuffled partition the take
    # is a single fetch after the parallel map stage — 2 jobs total.
    # The shuffled payload is the delta-bounded probe itself (≤ 2
    # rows per deleted edge), never the label table.
    probe_rows = (
        endpoint_probe.select("node", "canonical")
        .repartition(1)
        .limit(iterative.DRIVER_SOLVE_MAX + 1)
        .collect()
    )
    if len(probe_rows) <= iterative.DRIVER_SOLVE_MAX:
        aff_set = sorted({r[1] for r in probe_rows})
        affected = _driver_relation(
            spark, [(c,) for c in aff_set], "canonical long"
        )
        aff_vals = aff_set if canonical_col is not None else None
        probe_nodes: set | None = {r[0] for r in probe_rows}
    else:
        # past the driver bound: keep everything distributed (the
        # pre-r15 shape — correct at any delta size, just more jobs)
        affected = (
            endpoint_probe.select("canonical")
            .distinct()
            .localCheckpoint(eager=True)
        )
        aff_vals = (
            [r[0] for r in affected.collect()]
            if canonical_col is not None
            else None
        )
        probe_nodes = None
    aff_nodes = None
    if canonical_col is not None:
        # the affected set is delta-bounded BY CONTRACT (it must
        # broadcast for the relabel join regardless), so collect it and
        # push a LITERAL IN-filter: static partition pruning at the
        # scan — unaffected components' files are never opened — rather
        # than relying on dynamic pruning to fire for a join.
        aff_edges = edges.where(
            F.col(canonical_col).isin(aff_vals)
        ).select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        aff_nodes = (
            labels.join(F.broadcast(affected), "canonical")
            .select(F.col("node").alias(src))
            # pinned once: the exact-count probe below, the semi-join,
            # and the change-set variant's member probe consume the
            # same frame — without the checkpoint each would rescan
            # the label table
            .localCheckpoint(eager=True)
        )
        # aff_nodes is affected-MEMBER-sized, which is bounded by the
        # touched components' POPULATIONS, not by delta size — deleting
        # one edge of a huge component makes this frame that whole
        # component's membership, so an unconditional broadcast is the
        # same hazard r13 VERDICT #1 removed from the log-store merge
        # (ADVICE r14). Probe the checkpointed frame's exact row count
        # and keep the hint only under the bound: hinted, the edge
        # scan's semi is map-side and the edge set is never shuffled
        # for localization (measured: unhinted, the logged delete
        # epoch's shuffle grew 4.3x over a 100x base step); above the
        # bound the semi goes unhinted and AQE plans from runtime sizes
        # — slow-but-correct instead of a forced-broadcast OOM. The
        # component-annotated layout (canonical_col branch above, now
        # reinstatable at compaction time) is the scale answer when
        # affected members routinely outgrow a broadcast.
        n_members = aff_nodes.count()
        semi_side = (
            F.broadcast(aff_nodes)
            if n_members <= AFFECTED_BROADCAST_MAX_ROWS
            else aff_nodes
        )
        aff_edges = edges.join(semi_side, src, "left_semi").select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        )
    survivors = (
        aff_edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .join(
            F.broadcast(d),
            (F.col("u") == F.col("del_u")) & (F.col("v") == F.col("del_v")),
            "left_anti",
        )
        .distinct()
    )
    # fused size probe + solve input, as in _update_super_map (r15):
    # the bounded collect is the survivors frame's only evaluation on
    # the driver-solve path, so no eager checkpoint — the over-bound
    # star branch pins it below before its iterative rounds
    surv_rows = survivors.limit(iterative.DRIVER_SOLVE_MAX + 1).collect()
    if len(surv_rows) <= iterative.DRIVER_SOLVE_MAX:
        new_pairs = _union_find_pairs((r[0], r[1]) for r in surv_rows)
        new_aff = _driver_relation(
            spark, new_pairs, "node long, canonical long"
        )
        # driver-side rows ride along for the log store's zero-job
        # generation write (log_store._local_relation_rows)
        new_aff._graft_local_rows = [
            {"node": n, "canonical": c} for n, c in new_pairs
        ]
        # member_set: every pre-deletion member of an affected
        # component, derived WITHOUT any further scan — each member has
        # >= 1 stored edge (labels are CC over the stored edges: the
        # same non-isolated invariant the annotated members probe
        # already relies on, see incremental_components_delete_delta),
        # and every such edge either survived (endpoint of surv_rows)
        # or was deleted (endpoint of the probe). Only claimed for the
        # annotated path, where that invariant is load-bearing already;
        # the semi path keeps its labels-derived member frame.
        member_set = (
            {x for r in surv_rows for x in (r[0], r[1])} | probe_nodes
            if canonical_col is not None and probe_nodes is not None
            else None
        )
        return _DeleteRelabel(
            affected, new_aff, aff_vals, aff_nodes, new_pairs, member_set
        )
    new_aff = connected_components_star(
        survivors.localCheckpoint(eager=True),
        "u", "v", canonical_edges=True
    )
    return _DeleteRelabel(affected, new_aff, aff_vals, aff_nodes, None, None)


def incremental_components_delete_delta(
    labels: DataFrame,
    edges: DataFrame,
    deleted_edges: DataFrame,
    src: str,
    dst: str,
    *,
    canonical_col: str | None = None,
):
    """:func:`incremental_components_delete` as a CHANGE SET — the
    write-side twin the log-structured store needs (r13 VERDICT #5).
    Returns ``(changed, tombstoned)``: ``changed`` is the recomputed
    (node, canonical) labeling of the affected components' SURVIVING
    nodes (replace-by-key generation rows — unchanged survivors
    re-replace themselves, which the store's merge absorbs for free),
    ``tombstoned`` is the single-column node frame of affected members
    the deletions ISOLATED (they leave the labeling, so they become
    generation tombstones). Unaffected components' labels are never
    read past the one broadcast semi, never rewritten. Both frames are
    affected-component-bounded — the localization guarantee the full
    variant already carries. Equivalence pinned by
    tests/test_components.py; end-to-end store hash-gated by
    ``cc_log_maintenance``."""
    res = _delete_affected_relabel(
        labels, edges, deleted_edges, src, dst,
        canonical_col=canonical_col,
    )
    if res.new_pairs is not None and res.member_set is not None:
        # fully driver-resolved epoch (r15): the surviving labeling AND
        # the pre-deletion member set are already on the driver, so the
        # isolated-node tombstones are a Python set difference and both
        # change-set frames ship as LOCAL relations — the epoch's
        # entire write input needs no further Spark job at all
        live = {n for n, _ in res.new_pairs}
        tombstoned = _driver_relation(
            labels.sparkSession,
            [(n,) for n in sorted(res.member_set - live)],
            "node long",
        )
        # driver-side rows ride along (new_aff already carries its
        # own): the log-store write path persists both frames via pure
        # driver-side parquet writes — zero Spark jobs for the epoch's
        # whole change set (log_store._local_relation_rows)
        tombstoned._graft_local_rows = [
            {"node": n} for n in sorted(res.member_set - live)
        ]
        return res.new_aff, tombstoned
    # distributed new_aff is consumed twice (rows write + anti side
    # below) — pin it; a driver-solved new_aff is already a local
    # relation and needs no pinning
    changed = (
        res.new_aff
        if res.new_pairs is not None
        else res.new_aff.localCheckpoint(eager=True)
    )
    if res.aff_vals is not None:
        # canonical_col path: derive the affected MEMBERS from the
        # annotation-pruned edge scan instead of a labels corpus scan —
        # every labeled node is non-isolated (labels are CC over the
        # stored edges; isolation tombstones nodes out), so a touched
        # component's membership is exactly the endpoint set of its
        # stored edges, and that scan already prunes on the literal
        # canonical IN-filter. With this, no pass of the delete epoch
        # reads corpus-sized rows (r14 VERDICT #4).
        pruned = edges.where(F.col(canonical_col).isin(res.aff_vals))
        members = (
            pruned.select(F.col(src).alias("node"))
            .union(pruned.select(F.col(dst).alias("node")))
            .distinct()
        )
    elif res.aff_nodes is not None:
        # semi path: the checkpointed member frame already exists for
        # the localization semi — reuse it instead of re-deriving the
        # same rows with a second labels corpus scan (r15)
        members = res.aff_nodes.select(F.col(src).alias("node"))
    else:
        members = labels.join(
            F.broadcast(res.affected), "canonical"
        ).select("node")
    tombstoned = members.join(
        F.broadcast(changed.select("node")), "node", "left_anti"
    )
    return changed, tombstoned
