"""Physical-plan quality gates (SURVEY.md §4): predicate pushdown reaches
the parquet scan, small dims broadcast, the extract path is shuffle-free,
salted aggregation is two-phase, and no row-at-a-time Python UDF exists
anywhere in the package."""

import re

from pyspark.sql import functions as F

from kbspark.corpus import synth_corpus, synth_dims
from kbspark.extract import mention_stage


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf01_dir):
    orders = spark.read.parquet(f"{sf01_dir}/orders.parquet")
    q = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*o_orderstatus", plan), plan
    # column pruning: scan reads only the two needed columns
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "o_totalprice" not in m.group(1), m.group(1)


def test_dim_join_is_broadcast(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf01_dir}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_salted_agg_is_two_phase(spark, sf01_dir):
    from kbspark.apriori import salted_count

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    plan = _plan(salted_count(li, "l_partkey", n_salts=8))
    # two distinct aggregation keys: (key, salt) then (key)
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases


def test_mention_stage_is_single_narrow_stage(spark):
    pages = spark.createDataFrame(synth_corpus(20, seed=1))
    entity_types, redirects = synth_dims()
    mentions = mention_stage(pages, spark, entity_types, redirects)
    plan = _plan(mentions)
    assert "Exchange" not in plan, plan  # zero shuffles: scan → mapInPandas
    assert "MapInPandas" in plan


def test_triple_build_has_single_shuffle(spark):
    """The flagship dataflow: extraction is narrow; the ONLY wide
    operation is the pre-aggregated triple dedup (SURVEY §3.1 'one narrow
    stage, zero shuffles' + one agg)."""
    from kbspark.corpus import synth_corpus, synth_dims
    from kbspark.triples import build_triples

    pages = spark.createDataFrame(synth_corpus(20, seed=4))
    entity_types, redirects = synth_dims()
    mentions = mention_stage(pages, spark, entity_types, redirects)
    triples = build_triples(spark, mentions, entity_types, redirects)
    plan = _plan(triples)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan
    assert "BroadcastHashJoin" in plan  # dim join broadcast, not shuffled


def test_tagged_json_view_byte_compat(spark):
    """E6 JSON view serializes exactly like the reference's json.dumps
    (ner.py:196)."""
    import json

    from kbspark.corpus import synth_corpus, synth_dims
    from kbspark.extract import (
        RegexSentenceSplitter,
        RegexTokenizer,
        annotate_stage,
        annotated_tokenization,
        pack_page,
        tagged_json_view,
    )

    pages_pdf = synth_corpus(10, seed=8)
    entity_types, redirects = synth_dims()
    tagged = annotate_stage(
        spark.createDataFrame(pages_pdf), spark, entity_types, redirects
    )
    view = tagged_json_view(tagged).toPandas().set_index("url")

    tok, spl = RegexTokenizer(), RegexSentenceSplitter()
    for _, row in pages_pdf.iterrows():
        rows = annotated_tokenization(row["text"], tok, spl, entity_types,
                                      redirects)
        text, tags, links = pack_page(rows)
        assert view.loc[row["url"], "text"] == json.dumps(text)
        assert view.loc[row["url"], "tags"] == json.dumps(tags)
        assert view.loc[row["url"], "link_titles"] == json.dumps(links)


def test_no_row_at_a_time_python_udfs():
    """The no-per-row-Python invariant (BASELINE.json input_hint): every
    Python crossing is a pandas UDF / mapInPandas (BatchEval / ArrowEval),
    never a row-oriented PythonUDF. Scans the package source for the
    row-UDF constructors."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "kbspark"
    offenders = []
    for path in pkg.glob("*.py"):
        src = path.read_text()
        # F.udf( / @udf without pandas_udf; spark.udf.register; raw RDD
        # entry points (round-4 test review: register() and
        # parallelize() slipped past the old patterns)
        if re.search(r"(?<!pandas_)\budf\(", src):
            offenders.append((path.name, "row udf"))
        if re.search(r"\budf\.register\(", src):
            offenders.append((path.name, "registered row udf"))
        if re.search(r"\.rdd\b|\bparallelize\(", src):
            offenders.append((path.name, "rdd api"))
    assert not offenders, offenders


def test_driver_tables_read_only_through_scan():
    """One reader of the driver's tables: outside ``corpus.scan`` and the
    layout function it uses (``corpus.table_path``), no package source
    builds a ``{dir}/<table>.parquet`` path, names a driver table's
    parquet file in a string, or hands an f-string path to
    ``read.parquet``."""
    import ast
    import pathlib

    from kbspark.contract import _TABLES

    patterns = [
        re.compile(r"\{[^}]*\}/[^\"'\s]*\.parquet"),
        re.compile(r"[\"'/](?:%s)\.parquet[\"']" % "|".join(_TABLES)),
        re.compile(r"read\.parquet\(\s*f[\"']"),
    ]
    pkg = pathlib.Path(__file__).parent.parent / "kbspark"
    offenders = []
    for path in pkg.glob("*.py"):
        src = path.read_text()
        if path.name == "corpus.py":
            for node in ast.parse(src).body:
                if isinstance(node, ast.FunctionDef) and node.name in (
                    "scan", "table_path"
                ):
                    src = src.replace(ast.get_source_segment(src, node), "")
        offenders += [
            (path.name, m.group()) for pat in patterns
            for m in pat.finditer(src)
        ]
    assert not offenders, offenders


def test_vocab_titles_scan_is_spread(spark, sf01_dir):
    """The dims collect derives from a single-split documents scan; it
    must run on every core, so the plan round-robins the scan itself
    before the vocabulary's map side."""
    from kbspark.corpus import vocab_titles

    plan = _plan(vocab_titles(spark, sf01_dir))
    assert re.search(
        r"Exchange RoundRobinPartitioning\(\d+\)[^\n]*\n"
        r"\s*\+- FileScan parquet [^\n]*documents\.parquet",
        plan,
    ), plan


def test_clean_stage_plan_is_arrow_eval(spark):
    from kbspark.extract import clean_pages

    pages = spark.createDataFrame(synth_corpus(5, seed=2))
    plan = _plan(clean_pages(pages))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # would indicate row-oriented eval


def test_winnowing_is_narrow(spark, sf01_dir):
    """Winnowing fingerprints: pure list ops + explode — zero shuffles
    until a caller joins on the fingerprint."""
    from kbspark.textops import winnowing_fingerprints

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    plan = _plan(winnowing_fingerprints(docs))
    assert "Exchange" not in plan, plan


def test_ngram_jaccard_is_posting_join(spark, sf01_dir):
    """Posting-list Jaccard: equi-join on the shingle, no cartesian or
    nested-loop product anywhere."""
    from kbspark.textops import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, max_postings=1000))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_block_join_is_equi(spark, sf01_dir):
    from kbspark.textops import simhash_near_dups

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    plan = _plan(simhash_near_dups(docs, max_bucket=500))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compound_filters_push_both_scans(spark, sf01_dir):
    """p_scan_filters: a compound entry must not cost plan quality —
    BOTH union sides push their predicates to their parquet scans and
    the whole query stays shuffle-free."""
    from kbspark.contract import CONTRACT_QUERIES

    df = CONTRACT_QUERIES["p_scan_filters"](spark, sf01_dir)
    plan = _formatted(df)
    assert re.search(r"PushedFilters:.*EqualTo\(o_orderstatus,O\)", plan)
    assert re.search(r"PushedFilters:.*StringStartsWith\(p_name,red\)", plan)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_grouping_sets_compound_uses_expand(spark, sf01_dir):
    """x_grouping_sets: rollup/cube run through Catalyst's Expand (one
    scan per grouped set, no cartesian products)."""
    from kbspark.contract import CONTRACT_QUERIES

    df = CONTRACT_QUERIES["x_grouping_sets"](spark, sf01_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key with the
    same bucket count sort-merge-join with NO Exchange on either side —
    the write-once-shuffle-never pattern for repeatedly-joined fact
    tables at 100 TB."""
    from pyspark.sql import functions as F

    from kbspark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    a = spark.range(0, 10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("va")
    )
    b = spark.range(0, 5_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("vb")
    )
    cat.write_bucketed("bkt_a", a, "k", n_buckets=8)
    cat.write_bucketed("bkt_b", b, "k", n_buckets=8)
    try:
        j = (
            spark.table("bkt_a")
            .hint("merge")
            .join(spark.table("bkt_b"), "k")
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # no shuffle feeds the join: the only allowed Exchange is none —
        # the groupBy on the bucket key reuses the bucketing too
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")
