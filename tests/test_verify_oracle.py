"""Query-name resolution of ``tools/verify_oracle.py`` (no Spark session)."""

import importlib.util
import os

import __spark_entry__ as E

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools",
                     "verify_oracle.py")
_spec = importlib.util.spec_from_file_location("verify_oracle", _PATH)
V = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(V)


def test_constituent_runs_its_composite():
    run, via, unknown = V.resolve_names(
        ["stumped_m16_long", "aamped_m16_long", "stump_m256_long"],
        E.queries(), E._MERGE_SPEC)
    assert run == {"stream_profiles_long", "stump_m256_long"}
    assert via == [("stumped_m16_long", "stream_profiles_long"),
                   ("aamped_m16_long", "stream_profiles_long")]
    assert unknown == []


def test_every_constituent_resolves_and_composites_win():
    qs = E.queries()
    for composite, parts in E._MERGE_SPEC:
        run, via, unknown = V.resolve_names([t for t, _ in parts], qs,
                                            E._MERGE_SPEC)
        assert run == {composite} and not unknown
    # a composite named like one of its constituents runs as itself
    assert V.resolve_names(["media_video"], qs, E._MERGE_SPEC) == (
        {"media_video"}, [], [])
    assert V.resolve_names([], qs, E._MERGE_SPEC) == (set(), [], [])


def test_unknown_name_exits_nonzero_before_spark(monkeypatch, capsys):
    monkeypatch.setattr(V.sys, "argv", ["verify_oracle.py", "no_such_query",
                                        "stumped_m16_long"])
    monkeypatch.setattr(V.os, "environ", dict(os.environ))
    assert V.main() != 0
    out = capsys.readouterr().out
    assert "UNKNOWN query name(s): no_such_query" in out
