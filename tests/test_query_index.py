"""QUERIES.md is generated by tools/gen_query_index.py; the committed
file must match what the generator prints for the current registry."""

from __future__ import annotations

import os

from tools import gen_query_index

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_md_matches_generator(capsys):
    assert gen_query_index.main() == 0
    with open(os.path.join(REPO, "QUERIES.md"), encoding="utf-8") as fh:
        committed = fh.read()
    assert capsys.readouterr().out == committed, (
        "QUERIES.md is stale: run `python tools/gen_query_index.py > QUERIES.md`"
    )
