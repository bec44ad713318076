"""Argument parsing of tools/probe.py, checked without a Spark session."""

from __future__ import annotations

import pytest

from tools import probe


def test_ann_cells_configs_do_not_take_the_corpus_slot():
    args = probe.parse_args(["ann-cells", "--configs", "16:11", "DIR"])
    assert args.corpus == "DIR"
    assert args.configs == [(16, 11)]


def test_unknown_query_exits_2_before_any_session(monkeypatch, capsys):
    def no_session(name):
        raise AssertionError("a session was built")

    monkeypatch.setattr(probe, "session", no_session)
    with pytest.raises(SystemExit) as exc:
        probe.main(["scale", "depth", "/big", "--queries", "max_drawdown", "no_such_query"])
    assert exc.value.code == 2
    assert "no_such_query" in capsys.readouterr().err
