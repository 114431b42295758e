"""EXECUTE the DP-chosen join order — the physical consumer that turns
six rounds of optimizer-statistics readouts (skew profile → histogram
→ selectivity → histogram join estimate → ANALYZE artifacts → the
Selinger chain/star DPs, operators/joinorder.py) into an optimizer
that ACTS: the multi-way join is BUILT in the order the DP chose, and
every broadcast decision derives from the DP's cardinality estimates
instead of Spark's file-size `autoBroadcastJoinThreshold` guess
(estimates survive filters and joins; file sizes don't).

Why this matters on Spark: Catalyst does NOT reorder joins unless CBO
join-reorder is enabled (off by default, and its ANALYZE stats live in
a metastore this engine doesn't require), so the DataFrame join order
a caller declares IS the physical order — which makes "execute the
plan the DP chose" a pure plan-construction exercise: fold the chosen
split/peel structure into `.join()` calls and attach `F.broadcast`
hints where the ESTIMATED build side fits.  AQE can still improve the
residue at runtime (skew splits, local shuffle readers); what it
cannot do is un-pick a bad join order — exactly the decision the DP
owns (Selinger et al. 1979; cost model C_out as in Neumann & Radke,
ICDE 2018).

Extension layer: the 556-LoC reference ETL (`src/Porter.php`) has no
join surface at all; this is the §2-Part-B/north-star engine work.

Scale shape: the executor adds ZERO jobs of its own — the statistics
were collected by the ANALYZE pass (bounded aggregates), the DP is
driver-side integer arithmetic, and the output is one declarative
plan.  Broadcast hints cut the k-1 shuffles of a left-deep chain down
to shuffles on only the genuinely-large sides; at 100 TB the
difference between fact-first and dim-first orders is the difference
between shuffling the fact table once and shuffling it k-1 times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Estimated build-side rows below which the side is broadcast.  ~1e5
# rows of typical dimension width is ~10 MB — Spark's own default
# autoBroadcastJoinThreshold operating point, but decided from the
# DP's row ESTIMATES rather than on-disk file sizes.
BROADCAST_ROWS = 100_000


def chain_plan_tree(
    names: list[str], split: dict[tuple[int, int], int]
) -> tuple:
    """The chosen join TREE as nested (left, right) tuples of table
    names — what tests assert the physical plan against, and the
    human-readable readout of the executed structure."""

    def build(i: int, j: int):
        if i == j:
            return names[i]
        cut = split[(i, j)]
        return (build(i, cut), build(cut + 1, j))

    return build(0, len(names) - 1)


def execute_chain_plan(
    tables: list[tuple[str, DataFrame]],
    edges: list[tuple[str, str]],
    est: dict[tuple[int, int], int],
    split: dict[tuple[int, int], int],
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Build the chain join following the DP's chosen splits.

    ``est``/``split`` are :func:`joinorder.chain_plan_dp` output — the
    SAME integers the hashed 'joinorder' plan rows state, so the
    executed structure is the proven-engine-identical decision, not a
    re-derivation.  At each composite join the smaller ESTIMATED side
    is broadcast when it fits ``broadcast_rows`` (ties prefer the
    right/build side, the conventional hash-join build arm).

    Joining interval [i..cut] with [cut+1..j] uses edge ``cut`` — the
    one chain edge that crosses the split (interval connectivity
    guarantees it exists and is unique).
    """
    if len(edges) != len(tables) - 1 or len(tables) < 2:
        raise ValueError("need k tables and k-1 chain edges, k >= 2")

    def build(i: int, j: int) -> DataFrame:
        if i == j:
            return tables[i][1]
        cut = split[(i, j)]
        left = build(i, cut)
        right = build(cut + 1, j)
        ka, kb = edges[cut]
        le, re_ = est[(i, cut)], est[(cut + 1, j)]
        if re_ <= broadcast_rows and re_ <= le:
            right = F.broadcast(right)
        elif le <= broadcast_rows:
            left = F.broadcast(left)
        return left.join(right, F.col(ka) == F.col(kb))

    return build(0, len(tables) - 1)


def star_peel_sequence(
    k: int, peel: dict[tuple[int, ...], int]
) -> list[int]:
    """Unroll the star DP's peel map into the dim JOIN order (first
    joined → last joined): ``peel[s]`` is the dim joined LAST within
    subset ``s``, so walking full-set → empty and reversing yields the
    left-deep build order (most-selective dimension first under the
    C_out model)."""
    seq: list[int] = []
    s = tuple(range(k))
    while s:
        d = peel[s]
        seq.append(d)
        s = tuple(i for i in s if i != d)
    seq.reverse()
    return seq


def snowflake_plan_tree(
    fname: str,
    chain_names: list[list[str]],
    dp: dict,
) -> tuple:
    """The executed snowflake structure as nested tuples: the fact
    joined with each (internally-structured) arm subtree in peel
    order — what tests assert the physical plan against."""
    out = fname
    for ci in star_peel_sequence(len(chain_names), dp["peel"]):
        names = chain_names[ci]
        if dp["internal"][ci] is None:
            arm = names[0]
        else:
            _e, _c, isplit = dp["internal"][ci]
            arm = chain_plan_tree(names, isplit)
        out = (out, arm)
    return out


def execute_snowflake_plan(
    fact: tuple[str, DataFrame],
    chains: list[list[tuple[str, DataFrame, str, str]]],
    stats: dict,
    dp: dict,
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Execute the snowflake plan the composed DP chose
    (joinorder.snowflake_plan_dp): each arm is built as its own
    subtree in its internal chain-DP order (the bushy shape the DP
    costed), then the arms join onto the fact in peel order.  An arm
    whose ESTIMATED joined cardinality (the internal DP's full-
    interval estimate; its own row count for single-table arms) fits
    ``broadcast_rows`` is broadcast — the snowflake-specific win: the
    pre-joined dimension arm broadcasts as ONE unit, so the fact is
    never shuffled for any arm that fits (the star-transformation
    plan warehouses hand-write, derived here from statistics)."""
    out = fact[1]
    for ci in star_peel_sequence(len(chains), dp["peel"]):
        ch = chains[ci]
        if dp["internal"][ci] is None:
            arm = ch[0][1]
            arm_est = stats["chains"][ci]["rows"][0]
        else:
            iest, _ic, isplit = dp["internal"][ci]
            arm_tables = [(n, df) for n, df, _pk, _ok in ch]
            arm_edges = [
                (ch[i + 1][2], ch[i + 1][3]) for i in range(len(ch) - 1)
            ]
            arm = execute_chain_plan(
                arm_tables, arm_edges, iest, isplit,
                broadcast_rows=broadcast_rows,
            )
            arm_est = iest[(0, len(ch) - 1)]
        if arm_est <= broadcast_rows:
            arm = F.broadcast(arm)
        out = out.join(arm, F.col(ch[0][2]) == F.col(ch[0][3]))
    return out


def graph_plan_tree(
    names: list[str], split: dict[int, int], mask: int | None = None
) -> tuple | str:
    """The general-graph DP's chosen join tree as nested (left, right)
    tuples of table names — the bushy structure tests assert the
    physical plan against."""
    if mask is None:
        mask = (1 << len(names)) - 1
    if mask & (mask - 1) == 0:
        return names[mask.bit_length() - 1]
    s1 = split[mask]
    return (
        graph_plan_tree(names, split, s1),
        graph_plan_tree(names, split, mask ^ s1),
    )


def execute_graph_plan(
    tables: list[tuple[str, DataFrame]],
    edges: list[tuple[int, int, str, str]],
    est: dict[int, int],
    split: dict[int, int],
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Build the general-graph join following the DP's chosen csg-cmp
    splits (:func:`joinorder.graph_plan_dp` output — the same integers
    the hashed 'graphorder' rows state).  At each composite join EVERY
    edge crossing the split is applied as one conjunct — on cyclic
    graphs (the true q5 topology) the cycle-closing edge therefore
    lands as a join-time filter exactly where the DP costed it,
    instead of being dropped (snowflake) or deferred to a post-join
    WHERE (the plan Catalyst is handed never builds the unfiltered
    intermediate).  The smaller ESTIMATED side is broadcast when it
    fits ``broadcast_rows`` (ties prefer the right/build side)."""
    epairs = [(u, v) for u, v, _ku, _kv in edges]

    def build(mask: int) -> DataFrame:
        if mask & (mask - 1) == 0:
            return tables[mask.bit_length() - 1][1]
        s1 = split[mask]
        s2 = mask ^ s1
        left = build(s1)
        right = build(s2)
        conds = [
            F.col(ku) == F.col(kv)
            for (u, v), (_u, _v, ku, kv) in zip(epairs, edges)
            if (s1 >> u & 1 and s2 >> v & 1)
            or (s2 >> u & 1 and s1 >> v & 1)
        ]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        le, re_ = est[s1], est[s2]
        if re_ <= broadcast_rows and re_ <= le:
            right = F.broadcast(right)
        elif le <= broadcast_rows:
            left = F.broadcast(left)
        return left.join(right, cond)

    return build((1 << len(tables)) - 1)
