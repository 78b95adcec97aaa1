from __future__ import annotations

import tempfile

import pytest

from target_hdfs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="spark_warehouse_")
    s = get_spark(
        app_name="target_hdfs_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


class CrashingFS:
    """Delegating proxy over the Hadoop FileSystem that raises at the
    N-th call of a given operation — the injected 'kill point' — and
    logs every rename and delete it passes through."""

    def __init__(self, real, crash_on: dict, counts: dict, log: list):
        self._real = real
        self._crash_on = crash_on
        self._counts = counts
        self._log = log

    def _tick(self, op: str, path) -> None:
        n = self._counts.get(op, 0) + 1
        self._counts[op] = n
        if self._crash_on.get(op) == n:
            # crash-once: the entry is cleared so the retry runs clean,
            # mirroring a process restart after a kill
            del self._crash_on[op]
            raise RuntimeError(f"injected crash at {op} #{n}")
        self._log.append((op, path.getName()))

    def rename(self, a, b):
        self._tick("rename", a)
        return self._real.rename(a, b)

    def delete(self, p, recursive=False):
        self._tick("delete", p)
        return self._real.delete(p, recursive)

    def __getattr__(self, name):
        return getattr(self._real, name)


@pytest.fixture
def inject_commit_fs(monkeypatch):
    """Route every FS the commit protocol (plans/commit.py) obtains
    through one CrashingFS. ``inject_commit_fs({"rename": 2})`` makes
    the second rename from then on raise; the returned log lists the
    (op, name) of every rename and delete that went through."""
    from target_hdfs_spark.plans import commit

    real = commit.hadoop_fs
    counts: dict[str, int] = {}
    log: list = []

    def _install(crash_on: dict[str, int]) -> list:
        counts.clear()
        log.clear()

        def crashing(spark, path):
            fs, jpath, jvm = real(spark, path)
            return CrashingFS(fs, crash_on, counts, log), jpath, jvm

        monkeypatch.setattr(commit, "hadoop_fs", crashing)
        return log

    yield _install
