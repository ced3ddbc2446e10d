"""A1 — iterative graph closure (the reference's recursive category
descent, wikipedia/entities.py:9-48, cycle-guarded by a `found` set).

Spark has no recursive CTE in the DataFrame API, so the closure is a
driver-side fixpoint of joins:

    frontier(0) = roots
    frontier(i+1) = distinct(frontier(i) ⋈ edges) \\ visited
    visited     = visited ∪ frontier(i+1)

Cycle safety comes from the anti-join against `visited` (the `found` set
analog). Lineage is truncated with ``localCheckpoint`` every few
iterations — without it the plan doubles per level and the job dies on
deep graphs (SURVEY §4 "recursion cycle guard").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kbspark.session import persist_tracked


def reachable(
    edges: DataFrame,
    roots: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_iterations: int = 50,
    checkpoint_every: int = 5,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All nodes reachable from ``roots`` (inclusive) through ``edges``.

    ``edges``: DataFrame with columns (src, dst); ``roots``: DataFrame
    with column ``node``. Returns a single-column DataFrame ``node``.

    ``group_cols``: extra root-tag columns carried through the descent —
    N independent closures run as ONE BFS over (group, node) pairs
    (one join per level for all groups together instead of N separate
    fixpoints; the visited anti-join dedups per group)."""
    from kbspark.session import local_checkpoint_tracked, release_rdd_ids

    spark = edges.sparkSession
    keep = [node, *group_cols]
    # the edge table is joined once PER LEVEL — cache it so a derived
    # edge frame (filters/joins upstream) doesn't re-execute per level
    edges = persist_tracked(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    )
    visited, visited_ids = local_checkpoint_tracked(
        roots.select(*keep).distinct()
    )
    frontier = visited
    frontier_ids: list = []  # checkpoint blocks of the CURRENT frontier
    #: checkpoint blocks from earlier levels that merely-PERSISTED
    #: frontiers may still reference through their lineage. Releasing a
    #: localCheckpoint a live plan depends on would turn a recoverable
    #: cache miss into a fatal 'checkpoint block not found' on a real
    #: cluster (round-4 review) — so release happens only at checkpoint
    #: levels, where the freshly checkpointed frontier + visited
    #: truncate every older lineage. Cached state is bounded at
    #: O(checkpoint_every × |frontier|) instead of O(levels × |V|).
    pending_release: list = []

    exhausted = True
    for i in range(max_iterations):
        nxt = (
            frontier.join(edges, frontier[node] == edges["_src"])
            .select(F.col("_dst").alias(node), *group_cols)
            .distinct()
        )
        new = nxt.join(visited, keep, "left_anti")
        new_ids: list = []
        checkpointed = bool(checkpoint_every) and (i + 1) % checkpoint_every == 0
        if checkpointed:
            new, new_ids = local_checkpoint_tracked(new)
        else:
            new = persist_tracked(new)
        if new.isEmpty():
            exhausted = False
            release_rdd_ids(spark, new_ids)
            break
        # new is distinct and anti-joined against visited, so the union
        # of the two disjoint distinct sets needs no distinct() — one
        # fewer shuffle per BFS level
        next_visited, next_ids = local_checkpoint_tracked(
            visited.unionByName(new)
        )
        pending_release += visited_ids + frontier_ids
        visited, visited_ids = next_visited, next_ids
        frontier, frontier_ids = new, new_ids
        if checkpointed:
            # frontier AND visited are both checkpointed now — nothing
            # live references the accumulated older blocks (ADVICE r03)
            release_rdd_ids(spark, pending_release)
            pending_release = []
    # visited is checkpointed every level; once the loop ends nothing
    # references the remaining accumulated blocks or the last frontier
    release_rdd_ids(spark, pending_release + frontier_ids)
    if exhausted:
        # returning the partial set would silently drop everything below
        # level max_iterations (round-3 review) — the reference recurses
        # to exhaustion, so an unfinished fixpoint is an error here
        raise RuntimeError(
            f"reachable() frontier still non-empty after {max_iterations} "
            "levels — raise max_iterations for deeper graphs"
        )
    return visited


def descendant_edges(edges: DataFrame, root: str, parent: str = "cl_to",
                     child_title: str = "page_title",
                     closure_hint: str = "broadcast") -> DataFrame:
    """The reference's get_sub_cats (wikipedia/entities.py:33-48): all
    distinct edge rows whose parent category is in the transitive closure
    below ``root``. ``edges`` columns: (cl_to = parent title, cl_from =
    child page id, page_title = child's title when the child is itself a
    category, else NULL — the reference's left join entities.py:40-42).
    Only titled (category) children are descended into, matching the
    reference's ``cats.dropna()`` recursion guard (entities.py:20)."""
    import pandas as pd

    spark = edges.sparkSession
    roots = spark.createDataFrame(pd.DataFrame({"node": [root]}))
    closure = reachable(
        edges.filter(F.col(child_title).isNotNull()).select(
            F.col(parent).alias("src"), F.col(child_title).alias("dst")
        ),
        roots,
    )
    keyed = closure.withColumnRenamed("node", parent)
    if closure_hint == "broadcast":
        keyed = F.broadcast(keyed)
    return edges.join(keyed, parent).distinct()


#: the reference extract job's hard-coded German root categories
#: (entities.py:213-229)
DEFAULT_TYPE_ROOTS = {
    "PER": ("Frau", "Mann"),
    "LOC": ("Geographisches_Objekt",),
    "ORG": ("Organisation",),
}
DEFAULT_NOTION_ROOT = "Geographischer_Begriff"


def category_entities(
    pages: DataFrame,
    edges: DataFrame,
    type_roots: dict[str, tuple[str, ...]] | None = None,
    notion_root: str = DEFAULT_NOTION_ROOT,
    drop_prefix: str = "Liste_",
    closure_hint: str = "broadcast",
) -> DataFrame:
    """The reference's ``extract-wiki-ner-entities`` job
    (qurator/wikipedia/entities.py:196-247) composed from the closure
    primitives: one category descent + member-page set per root, the
    type-priority exclusions org∖(per∪loc), loc∖(per∪notion)
    (entities.py:233-236 — note org is excluded against the UNFILTERED
    loc set, exactly as the reference orders its statements), and TYPE
    assignment (entities.py:240-243). A page in loc∩org∩notion but not
    per is dropped entirely, matching the reference.

    ``pages``/``edges``: the same shapes ``descendant_edges`` /
    ``category_member_pages`` take. Returns (page_title, TYPE) rows —
    the reference's pickled all_entities frame. Exclusions are P3
    anti-joins on page_id (the reference's index-isin filters).

    Scale shape: the five root closures run as ONE tagged BFS
    (``reachable`` with a group column — one edge join per graph level
    total, not per root), and member extraction is a single tagged
    semi-join; only the three exclusion anti-joins follow."""
    import pandas as pd

    type_roots = type_roots or DEFAULT_TYPE_ROOTS
    spark = pages.sparkSession

    tagged_roots = [
        (typ, root)
        for typ, roots in ((t, type_roots[t]) for t in ("PER", "LOC", "ORG"))
        for root in roots
    ] + [("NOTION", notion_root)]
    roots_df = spark.createDataFrame(
        pd.DataFrame(tagged_roots, columns=["typ", "node"])
    )

    # one BFS over (typ, node) pairs; only titled (category) children are
    # descended into, matching the reference's cats.dropna() guard
    titled = edges.filter(F.col("page_title").isNotNull()).select(
        F.col("cl_to").alias("src"), F.col("page_title").alias("dst")
    )
    closure = reachable(titled, roots_df, group_cols=("typ",))

    # member pages: ns-0 pages whose id appears under a closure category,
    # tagged by typ (the get_category_pages analog, one pass for all typs)
    # the closure scales with the category graph: 'broadcast' fits the
    # reference-sized KB, 'auto' lets the planner/AQE shuffle-join a
    # full-web category closure (same knob as dim_hint, round-3 review)
    closure_keyed = closure.withColumnRenamed("node", "cl_to")
    if closure_hint == "broadcast":
        closure_keyed = F.broadcast(closure_keyed)
    member_ids = (
        edges.join(closure_keyed, "cl_to")
        .select(F.col("cl_from").alias("page_id"), "typ")
        .distinct()
    )
    member = (
        pages.filter(F.col("page_namespace") == 0)
        .select("page_id", "page_title")
        .join(member_ids, "page_id")
        .filter(~F.col("page_title").startswith(drop_prefix))
    )
    member = persist_tracked(member)  # feeds four typ slices + three anti-joins

    def of_type(typ: str) -> DataFrame:
        return member.filter(F.col("typ") == typ).select(
            "page_id", "page_title"
        ).distinct()

    per = of_type("PER")
    loc0 = of_type("LOC")
    org0 = of_type("ORG")
    notion = of_type("NOTION")

    org = (
        org0.join(per.select("page_id"), "page_id", "left_anti")
        .join(loc0.select("page_id"), "page_id", "left_anti")
    )
    loc = (
        loc0.join(per.select("page_id"), "page_id", "left_anti")
        .join(notion.select("page_id"), "page_id", "left_anti")
    )
    return (
        per.withColumn("TYPE", F.lit("PER"))
        .unionByName(loc.withColumn("TYPE", F.lit("LOC")))
        .unionByName(org.withColumn("TYPE", F.lit("ORG")))
        .select("page_title", "TYPE")
    )


def category_member_pages(pages: DataFrame, cats: DataFrame,
                          drop_prefix: str = "Liste_") -> DataFrame:
    """The reference's get_category_pages (entities.py:51-67): ns-0 pages
    that are members of any closure category (semi-join on cl_from =
    page_id), minus the list-page prefix (P2)."""
    page0 = pages.filter(F.col("page_namespace") == 0).select(
        "page_id", "page_title"
    )
    member_ids = cats.select(F.col("cl_from").alias("page_id")).distinct()
    return page0.join(member_ids, "page_id", "left_semi").filter(
        ~F.col("page_title").startswith(drop_prefix)
    )
