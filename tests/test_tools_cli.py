"""Units for the shared helpers under tools/ (no SparkSession)."""

from __future__ import annotations


def test_shared_cli_parser():
    """tools/_cli.parse_args — the one flag-parsing loop the diagnostic
    tools share (r11 consolidated three hand-rolled copies that had each
    needed the same guard fixes individually)."""
    import importlib.util
    import os

    import pytest

    spec = importlib.util.spec_from_file_location(
        "_cli", os.path.join(os.path.dirname(__file__), "..", "tools", "_cli.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    flags = {"--top": int, "--dry-run": cli.BOOL}
    vals, pos = cli.parse_args(
        ["--top", "3", "a", "b"], flags, "u", positionals=True
    )
    assert vals == {"top": 3} and pos == ["a", "b"]
    vals, pos = cli.parse_args(["--top=7", "--dry-run"], flags, "u")
    assert vals == {"top": 7, "dry-run": True} and pos == []
    # exact-match only: '--topology' is NOT '--top' (the ADVICE r10 bug)
    with pytest.raises(SystemExit):
        cli.parse_args(["--topology"], flags, "u")
    with pytest.raises(SystemExit):  # missing value
        cli.parse_args(["--top"], flags, "u")
    with pytest.raises(SystemExit):  # bool flag takes no value
        cli.parse_args(["--dry-run=x"], flags, "u")
    with pytest.raises(SystemExit):  # positionals rejected by default
        cli.parse_args(["stray"], flags, "u")
