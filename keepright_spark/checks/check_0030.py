"""Check 0030 — non-closed areas.

Reference: /root/reference/checks/0030_non-closed_areas.php (417 LoC).

For every area-implying tag rule (k, v) from standard.xml (//rule/area,
0030:48-79; static table data_tables.AREA_RULES): ways tagged with the
rule whose first node ≠ last node must still form a closed loop
together with *same-rule* ways — BFS from the first node over the
rule-class junction graph (nodes used by ≥2 class ways, 0030:146-186)
must reach the last node without traversing the way itself
(is_closed_loop, 0030:366-415).  Unreachable → error
"This way is tagged with '$1=$2' and should be closed-loop",
txt1=k, txt2=v.

The reference runs one BFS per way per rule.  Spark-first shape: the
rule is a data column (broadcast rules join), and the per-subject
reachability runs inside a vectorized applyInPandas operator keyed by
(tile, rule) — tile-local graphs are small, so one shuffle replaces
diameter-many driver rounds (SURVEY §8 hard part 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..data_tables import AREA_RULES
from ..errors import finish_errors
from ..lib import materialize

MSGID = "This way is tagged with '$1=$2' and should be closed-loop"


def _biconnected(adj: dict) -> tuple[set, list]:
    """Articulation vertices + biconnected components (vertex sets) of
    an undirected graph, iterative Hopcroft-Tarjan (no recursion — the
    class graph of a dense '*' rule can be deep)."""
    disc: dict = {}
    low: dict = {}
    art: set = set()
    blocks: list = []
    timer = 0
    estack: list = []
    for root in adj:
        if root in disc:
            continue
        disc[root] = low[root] = timer
        timer += 1
        stack = [(root, None, iter(adj[root]))]
        root_children = 0
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue
                if w in disc:
                    if disc[w] < disc[v]:
                        estack.append((v, w))
                        low[v] = min(low[v], disc[w])
                else:
                    estack.append((v, w))
                    disc[w] = low[w] = timer
                    timer += 1
                    stack.append((w, v, iter(adj[w])))
                    advanced = True
                    break
            if advanced:
                continue
            stack.pop()
            if parent is not None:
                low[parent] = min(low[parent], low[v])
                if low[v] >= disc[parent]:
                    comp = set()
                    while estack:
                        a, b = estack.pop()
                        comp.add(a)
                        comp.add(b)
                        if (a, b) == (parent, v):
                            break
                    if comp:
                        blocks.append(comp)
                    if parent == root:
                        root_children += 1
                    else:
                        art.add(parent)
        if root_children > 1:
            art.add(root)
    return art, blocks


def _block_cut_tree(art: set, blocks: list):
    """Block-cut tree: one node per block ('b', i) and per articulation
    vertex ('c', v); returns (tree adjacency, graph-vertex → tree node)."""
    tree: dict = {("c", v): [] for v in art}
    node_of: dict = {v: ("c", v) for v in art}
    for i, comp in enumerate(blocks):
        bn = ("b", i)
        tree[bn] = []
        for v in comp:
            if v in art:
                tree[bn].append(("c", v))
                tree[("c", v)].append(bn)
            else:
                node_of[v] = bn
    return tree, node_of


def _open_ways(pairs, subjects) -> list:
    """Open (not-closeable) subject ways of one (tile, rule) group.

    Reachability fn→ln in the bipartite junction graph minus the
    subject way == "does removing the way-vertex separate fn from
    ln".  One block-cut tree per group (O(V+E)) turns every subject
    into an O(log deg) cut-vertex query — bounded even for a dense
    '*' rule class, where a per-subject BFS is O(subjects × edges).

    ``pairs``: (way_id, node_id) junction incidences; ``subjects``:
    (way_id, first_node_id, last_node_id).  Returns open way ids in
    subject order.
    """
    from bisect import bisect_right

    adj: dict = {}
    for w, nd in pairs:
        wv, nv = ("w", int(w)), ("n", int(nd))
        adj.setdefault(wv, []).append(nv)
        adj.setdefault(nv, []).append(wv)
    art, blocks = _biconnected(adj)
    tree, node_of = _block_cut_tree(art, blocks)
    tin, tout, parent, root_of = _euler(tree)
    # children of each cut node sorted by entry time (for the
    # which-subtree binary search)
    children: dict = {}
    for n in tree:
        if n[0] == "c":
            ch = sorted(
                (c for c in tree[n] if parent.get(c) == n),
                key=lambda c: tin[c],
            )
            children[n] = (ch, [tin[c] for c in ch])

    def inside(a, b):  # b within a's subtree
        return tin[a] <= tin[b] and tout[b] <= tout[a]

    def side(cut, x):
        """component of tree node x after removing cut: -1 = above
        cut, else index of the cut child whose subtree holds x."""
        if not inside(cut, x):
            return -1
        ch, tins = children[cut]
        i = bisect_right(tins, tin[x]) - 1
        return i if i >= 0 and inside(ch[i], x) else -1

    bad = []
    for w, fn, ln in subjects:
        w, fn, ln = int(w), int(fn), int(ln)
        fnv, lnv = ("n", fn), ("n", ln)
        # the legacy BFS marks an already-seen start node as never
        # "found": endpoints equal → open
        if fn == ln or fnv not in node_of or lnv not in node_of:
            bad.append(w)
            continue
        u, vv = node_of[fnv], node_of[lnv]
        if root_of[u] != root_of[vv]:
            bad.append(w)
            continue
        wv = ("w", w)
        if wv not in art:
            continue  # not a cut vertex: still connected without it
        cut = ("c", wv)
        if side(cut, u) != side(cut, vv):
            bad.append(w)
    return bad


def _euler(tree: dict):
    """Iterative rooted traversal: entry/exit times, parents, roots."""
    tin: dict = {}
    tout: dict = {}
    parent: dict = {}
    root_of: dict = {}
    t = 0
    for r in tree:
        if r in tin:
            continue
        parent[r] = None
        tin[r] = t
        t += 1
        root_of[r] = r
        stack = [(r, iter(tree[r]))]
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w in tin:
                    continue
                parent[w] = v
                tin[w] = t
                t += 1
                root_of[w] = r
                stack.append((w, iter(tree[w])))
                advanced = True
                break
            if advanced:
                continue
            tout[v] = t
            t += 1
            stack.pop()
    return tin, tout, parent, root_of


def run(v: OsmViews) -> DataFrame:
    spark = v.ways.sparkSession
    rules = F.broadcast(
        spark.createDataFrame(
            [(i, k, None if val == "*" else val, val) for i, (k, val) in enumerate(AREA_RULES)],
            "rule_id int, rk string, rv string, rv_disp string",
        )
    )

    # ways per rule class (tile, rule_id, way_id, k, v_disp)
    cw = (
        v.way_tags.join(
            rules,
            (F.col("k") == F.col("rk"))
            & (F.col("rv").isNull() | (F.col("v") == F.col("rv"))),
        )
        .select(
            "tile", "rule_id", "way_id",
            F.col("rk").alias("cls_k"),
            # v='*' rules report the way's own value? No — the
            # reference reports the literal rule value '*'... it
            # interpolates $v into the message, which for '*' rules is
            # the literal '*' (0030:268: txt2 = escape($v))
            F.col("rv_disp").alias("cls_v"),
        )
        .distinct()
    )

    cwn = (
        v.way_nodes.select("tile", "way_id", "node_id")
        .join(cw.select("tile", "rule_id", "way_id").distinct(), ["tile", "way_id"])
        .select("tile", "rule_id", "way_id", "node_id")
        .distinct()
    )
    jn = (
        cwn.groupBy("tile", "rule_id", "node_id")
        .agg(F.count_distinct("way_id").alias("nw"))
        .filter(F.col("nw") > 1)
        .select("tile", "rule_id", "node_id")
    )
    # materialized: several consumers below
    cwn_j = materialize(
        cwn.join(jn, ["tile", "rule_id", "node_id"], "left_semi")
    )

    subjects = (
        cw.join(
            v.ways.select(
                "tile", F.col("id").alias("way_id"),
                "first_node_id", "last_node_id",
            ),
            ["tile", "way_id"],
        )
        .filter(F.col("first_node_id") != F.col("last_node_id"))
        .select(
            "tile", "rule_id",
            F.col("way_id").alias("sw"),
            "first_node_id", "last_node_id", "cls_k", "cls_v",
        )
    )
    subjects = materialize(subjects)

    # per-(tile, rule) reachability inside a vectorized applyInPandas
    # operator: the rule-class junction graphs are tile-local and
    # small, so one shuffle replaces diameter-many driver BFS rounds.
    # Semantics identical to is_closed_loop (0030:366-415): last node
    # reachable from first node over junction nodes without using the
    # subject way itself.
    import pandas as pd
    from pyspark.sql.types import LongType, IntegerType, StringType, StructField, StructType

    graph = cwn_j.select("tile", "rule_id", "way_id", "node_id")
    subj_in = subjects.select(
        "tile", "rule_id", "sw", "first_node_id", "last_node_id"
    ).withColumnRenamed("sw", "way_id").withColumn(
        "node_id", F.lit(None).cast("long")
    )
    combined = graph.withColumn("first_node_id", F.lit(None).cast("long")) \
        .withColumn("last_node_id", F.lit(None).cast("long")) \
        .unionByName(subj_in.select("tile", "rule_id", "way_id", "node_id",
                                    "first_node_id", "last_node_id"))

    out_schema = StructType([
        StructField("tile", StringType()),
        StructField("rule_id", IntegerType()),
        StructField("sw", LongType()),
    ])

    def open_in_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        gmask = pdf["node_id"].notna()
        g = pdf[gmask]
        subj = pdf[~gmask]
        bad = _open_ways(
            zip(g["way_id"].to_numpy(), g["node_id"].to_numpy()),
            zip(subj["way_id"].to_numpy(),
                subj["first_node_id"].to_numpy(),
                subj["last_node_id"].to_numpy()),
        )
        if not bad:
            return pd.DataFrame({"tile": [], "rule_id": [], "sw": []}).astype(
                {"tile": str, "rule_id": "int32", "sw": "int64"})
        return pd.DataFrame({
            "tile": pdf["tile"].iloc[0],
            "rule_id": pdf["rule_id"].iloc[0],
            "sw": bad,
        })

    open_keys = combined.groupBy("tile", "rule_id").applyInPandas(
        open_in_group, out_schema
    )
    open_subjects = subjects.join(
        open_keys, ["tile", "rule_id", "sw"], "left_semi"
    )

    e = open_subjects.select(
        "tile",
        F.col("sw").alias("object_id"),
        F.col("cls_k").alias("t1"),
        F.col("cls_v").alias("t2"),
    )
    out = finish_errors(
        e, 30, "way", MSGID, txt1=F.col("t1"), txt2=F.col("t2")
    ).drop("t1", "t2")
    return out


# object types this check can emit (error_view resolution pruning)
EMITS = ("way",)
