"""Hermetic E1 goldens: kbspark.extract.clean_text must reproduce the
outputs recorded in tests/golden/clean_text.json. Those goldens pin the
implementation that test_clean_text_identity.py verified byte-identical
to the reference extractor, not the reference itself; the identity
tests remain the oracle wherever the reference source is present."""

import hashlib
import json
import pathlib

import pytest

from kbspark.corpus import synth_corpus
from kbspark.extract import clean_text

GOLDEN = json.loads(
    (pathlib.Path(__file__).parent / "golden" / "clean_text.json").read_text(
        encoding="utf-8"
    )
)


@pytest.mark.parametrize(
    "case", GOLDEN["cases"], ids=range(len(GOLDEN["cases"]))
)
def test_golden_case(case):
    assert clean_text(case["raw"]) == case["clean"]


def test_synth_corpus_pages_digest():
    h = hashlib.sha256()
    for raw in synth_corpus(300, seed=7)["text"]:
        h.update(clean_text(raw).encode("utf-8") + b"\0")
    assert h.hexdigest() == GOLDEN["synth_corpus_sha256"]
