"""Redirect resolution (SURVEY.md §2 J2/J3; reference
qurator/wikipedia/entities.py:89-127 and redirects2entities :144-188).

get_redirects semantics, step by step:
 1. scan redirect(rd_title, rd_from) and page(page_title, page_id, ns=0)
 2. J2: redirect ⋈ page on rd_from = page_id -> rd_from_title
 3. J3: keep only redirects whose TARGET is an entity (inner join against
    the entity dictionary on rd_title = page_title), carrying the entity
    payload
 4. metric: duplicated rd_from_title count "should be zero"
    (entities.py:123) — emitted as a metrics row, not a print
 5. dedup keep-first on rd_from_title (entities.py:125)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def get_redirects(
    entities: DataFrame, redirect: DataFrame, page: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Returns (redirects, dup_metric_df).

    ``entities``: canonical dictionary keyed by page_title.
    ``redirect``: (rd_from:int, rd_title:str); ``page``: (page_id:int,
    page_title:str, page_namespace:int).

    Output ``redirects``: one row per redirect source page whose target is
    an entity — (rd_from_title, rd_title, TYPE, QID, page_title...).
    """
    page0 = page.filter(F.col("page_namespace") == 0).select(
        "page_id", F.col("page_title").alias("rd_from_title")
    )
    # J2: attach source title (entities.py:114-115)
    r = redirect.join(page0, redirect.rd_from == page0.page_id, "inner").drop(
        "page_id"
    )
    # J3: only redirects targeting an entity (entities.py:118-121)
    r = r.join(
        F.broadcast(entities), r.rd_title == entities.page_title, "inner"
    )
    # the reference counts duplicated ROWS (index.duplicated().sum() =
    # all-but-first per group, entities.py:123), not duplicate groups —
    # a 3-way duplicate counts 2 (round-3 test review)
    dup_metric = (
        r.groupBy("rd_from_title")
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias(
                "n_duplicated_redirects"
            )
        )
    )
    # keep-first per source title (entities.py:125) — deterministic order
    w = W.partitionBy("rd_from_title").orderBy(F.col("rd_title").asc())
    r = r.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop(
        "_rn"
    )
    return r, dup_metric


def redirects_to_entities(entities: DataFrame, redirects: DataFrame) -> DataFrame:
    """The reference's redirects2entities (entities.py:144-188): resolve
    every entity title through the redirect map; redirect sources whose
    target is itself an entity are dropped (the target row already covers
    them); non-redirected titles pass through.

    Reference iterates rows; here it's one left join + the same three
    cases as relational predicates.
    """
    r = redirects.select(
        F.col("rd_from_title"), F.col("rd_title").alias("redirect_target")
    )
    joined = entities.select("page_title", "TYPE").join(
        r, entities.page_title == r.rd_from_title, "left"
    )
    # case 1: not a redirect source -> keep as-is (source = own title)
    keep = joined.filter(F.col("redirect_target").isNull()).select(
        "page_title", "TYPE", F.col("page_title").alias("_src")
    )
    # case 2: redirect source whose target is NOT an entity -> emit target
    # with the source's TYPE (entities.py:179-184)
    redirected = joined.filter(F.col("redirect_target").isNotNull()).select(
        F.col("redirect_target").alias("page_title"),
        "TYPE",
        F.col("page_title").alias("_src"),
    )
    target_not_entity = redirected.join(
        entities.select("page_title"), "page_title", "left_anti"
    )
    out = keep.unionByName(target_not_entity)
    # keep-first in the reference's iteration order — all_entities sorted
    # by SOURCE title (entities.py:164-165) — so for a multi-source
    # target the alphabetically-first SOURCE's TYPE survives (round-3
    # review: ordering by TYPE kept a different row)
    w = W.partitionBy("page_title").orderBy(
        F.col("_src").asc(), F.col("TYPE").asc()
    )
    return out.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn", "_src")


def _bounded_rows(df: DataFrame, cols: list[str], max_rows: int):
    """Driver-safe collect: ``limit(max_rows + 1)`` bounds memory, and a
    too-big frame raises a clear error instead of OOMing the driver
    (VERDICT r03 residual: these helpers were unbounded when called
    outside the size-gated pipeline paths)."""
    rows = df.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"frame exceeds the {max_rows}-row dict-collect bound — use "
            "the DataFrame-dim path (corpus.dim_frames_from_documents / "
            "resolve_mentions_frames) instead of a driver dict"
        )
    return rows


def redirect_dict(redirects: DataFrame,
                  max_rows: int = 10_000_000) -> dict[str, str]:
    """Collect the (source -> target) map for broadcast into the extract
    stages (dictionary-sized, like the reference's worker-shipped frame,
    ner.py:292-293). Bounded: raises above ``max_rows`` rather than
    OOMing the driver on a corpus-scaling frame."""
    return {
        row["rd_from_title"]: row["rd_title"]
        for row in _bounded_rows(
            redirects, ["rd_from_title", "rd_title"], max_rows
        )
    }
