"""The scaled measurement fixture (tools/gen_scale_fixture.py) keeps
every document's word tokens: each replica suffixes every token and
leaves the spaces between them."""

from __future__ import annotations

import pyarrow.parquet as pq

from tests.conftest import SF_CORRECT
from tools.gen_scale_fixture import suffix_tokens


def test_suffix_tokens_keeps_token_boundaries():
    assert suffix_tokens("hello world", "-k0") == "hello-k0 world-k0"
    texts = pq.read_table(f"{SF_CORRECT}/documents.parquet", columns=["text"])
    for t in texts.column("text").to_pylist():
        out = suffix_tokens(t, "-k3").split()
        assert len(out) == len(t.split())
        assert all(tok.endswith("-k3") for tok in out)
        assert [tok[: -len("-k3")] for tok in out] == t.split()
