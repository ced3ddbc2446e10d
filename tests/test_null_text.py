"""A null ``text`` row in documents.parquet must not fail the KG
pipeline: it is treated as an empty document, so every other page's
triples are unchanged."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kbspark.corpus import _doc_to_markup
from kbspark.jobs import flagship_triples


def test_null_text_markup_is_empty_document():
    assert _doc_to_markup(1, None) == _doc_to_markup(1, "")


@pytest.mark.parametrize("dim_collect_cap", [None, 1], ids=["dict", "frames"])
def test_null_text_row_leaves_other_triples_unchanged(
    spark, sf001_dir, tmp_path, dim_collect_cap
):
    docs = pq.read_table(f"{sf001_dir}/documents.parquet")
    null_id = max(docs.column("doc_id").to_pylist()) + 1
    null_row = pa.Table.from_pydict(
        {"doc_id": [null_id], "text": [None], "lang": ["de"],
         "source": [None], "n_chars": [None]},
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, null_row]),
                   tmp_path / "documents.parquet")

    def rows(sf_dir):
        out = flagship_triples(spark, sf_dir, dim_collect_cap=dim_collect_cap)
        return sorted(
            tuple(r) for r in out.collect()
            if r["src_url"] != f"https://crawl.example/doc/{null_id}"
        )

    expected = rows(sf001_dir)
    assert rows(str(tmp_path)) == expected
    assert expected
