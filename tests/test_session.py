"""The session factory: its shuffle-directory choice (no JVM started),
and that a second call leaves a running session as it is."""

from __future__ import annotations

import os
import threading

from sec_xbrl_finwarehouse_spark import session


def test_spark_local_dirs_set_leaves_local_dir_unset(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr(session, "_private_local_dir", None)

    def no_mkdtemp(*a, **k):
        raise AssertionError("created a directory the launcher did not ask for")

    monkeypatch.setattr(session.tempfile, "mkdtemp", no_mkdtemp)
    assert session._local_dir() is None
    assert session._private_local_dir is None


def test_private_local_dir_per_process_removed_at_exit(monkeypatch):
    if not os.path.isdir("/dev/shm"):
        return
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setattr(session, "_private_local_dir", None)
    at_exit = []
    monkeypatch.setattr(session.atexit, "register",
                        lambda fn, *a, **k: at_exit.append((fn, a, k)))
    d = session._local_dir()
    try:
        assert os.path.isdir(d)
        assert os.path.dirname(d) == "/dev/shm" and d != "/dev/shm/spark-local"
        assert session._local_dir() == d  # one directory per process
        assert len(at_exit) == 1
        fn, a, k = at_exit[0]
        fn(*a, **k)
        assert not os.path.exists(d)
    finally:
        if os.path.isdir(d):
            os.rmdir(d)


def test_get_spark_leaves_a_running_session_unchanged(spark):
    """A second ``get_spark`` -- the CLI's, inside a process that already
    holds a session, from the main thread or a server thread -- returns
    that session without re-applying its own confs."""
    confs = {"spark.sql.shuffle.partitions": "3",
             "spark.sql.autoBroadcastJoinThreshold": "-1"}
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = [session.get_spark("sec-xbrl-finwarehouse-cli")]
        t = threading.Thread(
            target=lambda: got.append(session.get_spark("other-thread")))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
        assert len(got) == 2
        assert all(s is spark for s in got)
        assert {k: spark.conf.get(k) for k in confs} == confs
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
