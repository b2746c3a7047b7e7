"""Direct-mode CLI (pixeltable_spark/cli.py): the reference's
pixeltable_cli command inventory (ls/describe/schema/count/rows/history/
drop/mv/revert/status/query) driven in-process against a temp warehouse."""

from __future__ import annotations

import json

import pytest

import pixeltable_spark as pxt
from pixeltable_spark import cli


@pytest.fixture()
def warehouse(tmp_path, spark, monkeypatch):
    """Fresh catalog in a temp dir; reset the module-global singleton.
    The CLI's get_session() re-applies the configured shuffle width to
    the shared test session, so the fixture puts the test's width back."""
    import pixeltable_spark.globals_api as g
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(g, "_catalog", None)
    home = str(tmp_path / "wh")
    g.init(spark=spark, home_dir=home)
    t = g.create_table("cli_t", {"x": pxt.Int, "s": pxt.String})
    t.insert([{"x": 1, "s": "a"}, {"x": 2, "s": "b"}, {"x": 3, "s": "c"}])
    yield home
    monkeypatch.setattr(g, "_catalog", None)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)


def run(capsys, *argv):
    rc = cli.main(list(argv))
    out = capsys.readouterr()
    return rc, out.out, out.err


class TestCli:
    def test_ls_and_count_and_schema(self, warehouse, capsys):
        rc, out, _ = run(capsys, "--home", warehouse, "ls")
        assert rc == 0 and "cli_t" in out
        rc, out, _ = run(capsys, "--home", warehouse, "count", "cli_t")
        assert rc == 0 and out.strip() == "3"
        rc, out, _ = run(capsys, "--home", warehouse, "--json",
                         "schema", "cli_t")
        assert rc == 0
        cols = json.loads(out)
        assert set(cols) >= {"x", "s"}

    def test_rows_json(self, warehouse, capsys):
        rc, out, _ = run(capsys, "--home", warehouse, "--json",
                         "rows", "cli_t", "-n", "2")
        assert rc == 0
        rows = json.loads(out)
        assert len(rows) == 2 and rows[0]["x"] == 1

    def test_describe_and_history(self, warehouse, capsys):
        rc, out, _ = run(capsys, "--home", warehouse, "describe", "cli_t")
        assert rc == 0 and "cli_t" in out
        rc, out, _ = run(capsys, "--home", warehouse, "history", "cli_t")
        assert rc == 0 and "version" in out.lower()

    def test_mv_revert_drop(self, warehouse, capsys):
        rc, out, _ = run(capsys, "--home", warehouse, "mv",
                         "cli_t", "cli_t2")
        assert rc == 0
        # revert undoes the insert -> count 0
        rc, out, _ = run(capsys, "--home", warehouse, "revert", "cli_t2")
        assert rc == 0
        rc, out, _ = run(capsys, "--home", warehouse, "count", "cli_t2")
        assert rc == 0 and out.strip() == "0"
        rc, out, _ = run(capsys, "--home", warehouse, "drop", "cli_t2")
        assert rc == 0
        rc, out, _ = run(capsys, "--home", warehouse, "ls")
        assert "cli_t2" not in out

    def test_status_json(self, warehouse, capsys):
        rc, out, _ = run(capsys, "--home", warehouse, "--json", "status")
        assert rc == 0
        info = json.loads(out)
        assert info["tables"] == ["cli_t"]
        assert info["default_parallelism"] >= 1

    def test_query_over_warehouse_and_registered_parquet(
            self, warehouse, capsys, tmp_path):
        rc, out, _ = run(capsys, "--home", warehouse, "--json", "query",
                         "SELECT sum(x) AS s FROM cli_t")
        assert rc == 0 and json.loads(out)[0]["s"] == 6
        rc, out, _ = run(
            capsys, "--home", warehouse, "--json", "query",
            "SELECT count(*) AS n FROM r",
            "--register", "r=/root/testdata/sf0.001/region.parquet")
        assert rc == 0 and json.loads(out)[0]["n"] == 5

    def test_error_is_message_not_traceback(self, warehouse, capsys):
        rc, out, err = run(capsys, "--home", warehouse, "count", "missing")
        assert rc == 1 and "error:" in err and "Traceback" not in err
