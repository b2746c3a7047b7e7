"""Managed serving daemon (daemon.py): port-lock lifecycle, pid
liveness, idempotent start, stop/status — the reference's
service/proxy_daemon.py contract (48-268) around the stdlib
TableServer."""
import json
import os
import subprocess
import sys
import time

import pytest

import pixeltable_spark as pxt
from pixeltable_spark import daemon as dmod


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "wh"))


class TestDaemonLifecycle:
    def test_start_status_stop_roundtrip(self, cat):
        wh = cat.root
        assert dmod.daemon_status(wh) == {"running": False}
        srv = dmod.start_daemon(cat)
        assert srv is not None
        try:
            st = dmod.daemon_status(wh)
            assert st["running"] and st["pid"] == os.getpid()
            assert st["healthy"] is True
            assert st["endpoint"].startswith("http://127.0.0.1:")
            # idempotent: a second start short-circuits
            assert dmod.start_daemon(cat) is None
        finally:
            assert dmod.stop_daemon(wh, server=srv) is True
        assert dmod.daemon_status(wh) == {"running": False}
        assert not os.path.exists(dmod._lock_path(wh))

    def test_stale_lock_reads_as_not_running(self, cat):
        wh = cat.root
        os.makedirs(dmod.daemon_home(wh), exist_ok=True)
        # a pid that cannot exist: beyond pid_max
        with open(dmod._lock_path(wh), "w") as f:
            json.dump({"port": 1, "pid": 2 ** 22 + 12345,
                       "host": "127.0.0.1"}, f)
        assert dmod.read_port_lock(wh) is None
        assert dmod.daemon_status(wh) == {"running": False}
        # start replaces the stale lock
        srv = dmod.start_daemon(cat)
        assert srv is not None
        try:
            assert dmod.read_port_lock(wh)["pid"] == os.getpid()
        finally:
            dmod.stop_daemon(wh, server=srv)

    def test_stop_external_daemon_by_pid(self, cat):
        """stop_daemon SIGTERMs a daemon owned by another process and
        clears its lock (the cross-process stop path, minus Spark: a
        sleeping child stands in for the daemon)."""
        wh = cat.root
        child = subprocess.Popen(
            [sys.executable, "-c", "import time; time.sleep(300)"])
        try:
            os.makedirs(dmod.daemon_home(wh), exist_ok=True)
            with open(dmod._lock_path(wh), "w") as f:
                json.dump({"port": 1, "pid": child.pid,
                           "host": "127.0.0.1"}, f)
            assert dmod.read_port_lock(wh) is not None
            assert dmod.stop_daemon(wh) is True
            child.wait(timeout=10)
            assert not os.path.exists(dmod._lock_path(wh))
        finally:
            if child.poll() is None:
                child.kill()

    def test_remove_lock_never_clears_another_pid(self, cat):
        wh = cat.root
        os.makedirs(dmod.daemon_home(wh), exist_ok=True)
        with open(dmod._lock_path(wh), "w") as f:
            json.dump({"port": 1, "pid": os.getpid()}, f)
        dmod._remove_lock(wh, pid=os.getpid() + 1)   # not the owner
        assert os.path.exists(dmod._lock_path(wh))
        dmod._remove_lock(wh, pid=os.getpid())       # the owner
        assert not os.path.exists(dmod._lock_path(wh))

    def test_concurrent_claims_single_winner(self, cat):
        """The O_CREAT|O_EXCL claim admits exactly one of N racers —
        the check-then-write race where two starts both passed the
        liveness probe and both started servers is closed."""
        from concurrent.futures import ThreadPoolExecutor
        wh = cat.root
        with ThreadPoolExecutor(8) as ex:
            wins = list(ex.map(lambda _: dmod._claim_lock(wh), range(8)))
        assert sum(wins) == 1
        # the placeholder (no port yet) is not a live registration …
        assert dmod.read_port_lock(wh) is None
        # … but publishing it completes the registration
        assert dmod._publish_lock(wh, "127.0.0.1", 12345) is True
        assert dmod.read_port_lock(wh)["port"] == 12345
        dmod._remove_lock(wh, os.getpid())

    def test_claim_refuses_live_then_steals_stale(self, cat):
        wh = cat.root
        os.makedirs(dmod.daemon_home(wh), exist_ok=True)
        with open(dmod._lock_path(wh), "w") as f:
            json.dump({"port": 1, "pid": os.getpid(), "host": "x"}, f)
        assert dmod._claim_lock(wh) is False     # live pid holds it
        with open(dmod._lock_path(wh), "w") as f:
            json.dump({"port": 1, "pid": 2 ** 22 + 9999, "host": "x"}, f)
        assert dmod._claim_lock(wh) is True      # stale: steal
        info = dmod._read_lock_raw(wh)
        assert info["pid"] == os.getpid() and info["port"] is None
        dmod._remove_lock(wh, os.getpid())

    def test_register_daemon_refuses_live_lock(self, cat, spark):
        """serve --register-daemon invoked while a live daemon is
        registered refuses (rc 2) and leaves the live lock untouched
        instead of hijacking it."""
        import argparse
        from pixeltable_spark.cli import cmd_serve
        # cmd_serve's get_session() re-applies the configured shuffle
        # width to the shared test session; put the test's width back
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        wh = cat.root
        os.makedirs(dmod.daemon_home(wh), exist_ok=True)
        with open(dmod._lock_path(wh), "w") as f:
            json.dump({"port": 1, "pid": os.getpid(),
                       "host": "127.0.0.1"}, f)
        args = argparse.Namespace(
            daemon=False, home=wh, host="127.0.0.1", port=0,
            register_daemon=True, force=False, json=False)
        try:
            assert cmd_serve(args) == 2
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        assert dmod._read_lock_raw(wh)["port"] == 1
        dmod._remove_lock(wh, os.getpid())

    def test_http_roundtrip_through_daemon(self, cat):
        import urllib.request
        t = cat.create_table("d", {"k": pxt.Int(False)})
        t.insert([{"k": 1}, {"k": 2}])
        srv = dmod.start_daemon(cat)
        try:
            ep = dmod.endpoint(cat.root)
            with urllib.request.urlopen(f"{ep}/tables", timeout=10) as r:
                assert "d" in json.loads(r.read())["tables"]
            with urllib.request.urlopen(f"{ep}/tables/d/rows?limit=10",
                                        timeout=30) as r:
                rows = json.loads(r.read())["rows"]
            assert sorted(x["k"] for x in rows) == [1, 2]
        finally:
            dmod.stop_daemon(cat.root, server=srv)


class TestDaemonCli:
    def test_serve_status_cli_not_running(self, tmp_path):
        out = subprocess.run(
            [sys.executable, "-m", "pixeltable_spark.cli",
             "--home", str(tmp_path / "whx"), "serve-status"],
            capture_output=True, text=True, cwd="/root/repo",
            timeout=60)
        assert out.returncode == 1
        assert json.loads(out.stdout)["running"] is False

    def test_serve_stop_cli_not_running(self, tmp_path):
        out = subprocess.run(
            [sys.executable, "-m", "pixeltable_spark.cli",
             "--home", str(tmp_path / "whx"), "serve-stop"],
            capture_output=True, text=True, cwd="/root/repo",
            timeout=60)
        assert out.returncode == 0 and "not running" in out.stdout

    def test_serve_daemon_cli_roundtrip(self, tmp_path):
        """Full managed lifecycle through the CLI: `serve --daemon`
        detaches a child (its own SparkSession), waits for health,
        prints the endpoint; `serve-status` sees it; `serve-stop`
        terminates it and clears the lock."""
        wh = str(tmp_path / "whd")
        start = subprocess.run(
            [sys.executable, "-m", "pixeltable_spark.cli", "--json",
             "--home", wh, "serve", "--daemon", "--port", "0"],
            capture_output=True, text=True, cwd="/root/repo",
            timeout=300)
        assert start.returncode == 0, start.stderr[-2000:]
        st = json.loads(start.stdout)
        assert st["running"] and st["healthy"]
        try:
            status = subprocess.run(
                [sys.executable, "-m", "pixeltable_spark.cli",
                 "--home", wh, "serve-status"],
                capture_output=True, text=True, cwd="/root/repo",
                timeout=60)
            assert status.returncode == 0
            assert json.loads(status.stdout)["healthy"] is True
        finally:
            stop = subprocess.run(
                [sys.executable, "-m", "pixeltable_spark.cli",
                 "--home", wh, "serve-stop"],
                capture_output=True, text=True, cwd="/root/repo",
                timeout=120)
            assert "stopped" in stop.stdout
        assert dmod.daemon_status(wh) == {"running": False}
        for _ in range(100):                 # pid fully gone
            if not dmod.read_port_lock(wh):
                break
            time.sleep(0.1)


class TestClient:
    """HTTP client (client.py) against the daemon — the reference
    ProxyClient contract: results round-trip, server errors re-raise as
    the identical engine exceptions."""

    def test_client_roundtrip_and_errors(self, cat):
        from pixeltable_spark.client import Client
        from pixeltable_spark.exceptions import NotFoundError
        t = cat.create_table("c", {"k": pxt.Int(False), "v": pxt.Float()})
        t.insert([{"k": 1, "v": 1.5}, {"k": 2, "v": 2.5}])
        srv = dmod.start_daemon(cat)
        try:
            c = Client.for_warehouse(cat.root)
            assert c.health() is True
            assert "c" in c.list_tables()
            md = c.get_metadata("c")
            assert md["name"] == "c" and "k" in md["columns"]
            assert {r["k"] for r in c.rows("c")} == {1, 2}
            st = c.insert("c", [{"k": 3, "v": 3.5}])
            assert st["num_rows"] == 1
            got = c.query("c", where={"k": 3}, select=["v"])
            assert got == [{"v": 3.5}]
            assert len(c.history("c")) >= 2
            with pytest.raises(NotFoundError):
                c.get_metadata("nope")
        finally:
            dmod.stop_daemon(cat.root, server=srv)

    def test_client_no_daemon(self, cat):
        from pixeltable_spark.client import Client
        from pixeltable_spark.exceptions import Error
        with pytest.raises(Error, match="no live serving daemon"):
            Client.for_warehouse(cat.root)
