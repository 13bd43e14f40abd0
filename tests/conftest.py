"""Shared fixtures: one SparkSession per test run, seeded corpora on
demand, and a crash hook at the table layer's commit point."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mdmpublic_spark.gen.synth import generate_corpus
from mdmpublic_spark.session import get_spark
from mdmpublic_spark.tables import Table

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mdmpublic-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("corpus") / "smoke")
    generate_corpus(d, n_pages=2000)
    return d


class CommitHook:
    """Stands in for ``Table._write_log``, whose rename is the one commit
    point of every table write. It records the table of each commit and,
    once armed with ``crash_at=k``, raises ``Crash`` at the k-th commit:
    right after the rename (the commit is durable, and nothing the caller
    would write after it ever is) or, with ``before=True``, ahead of it
    (the data dir is written, the commit never happens)."""

    class Crash(BaseException):
        """A process death: no ``except Exception`` handler catches it."""

    def __init__(self, write_log):
        self._write_log = write_log
        self.arm(None)

    def arm(self, crash_at: int | None, before: bool = False) -> None:
        self.crash_at, self.before, self.tables = crash_at, before, []

    def __call__(self, table: Table, snaps: list) -> None:
        self.tables.append(os.path.basename(table.path))
        crash = len(self.tables) == self.crash_at
        if crash and self.before:
            raise self.Crash(f"before commit {self.crash_at} ({self.tables[-1]})")
        self._write_log(table, snaps)
        if crash:
            raise self.Crash(f"after commit {self.crash_at} ({self.tables[-1]})")


@pytest.fixture
def commit_hook(monkeypatch) -> CommitHook:
    hook = CommitHook(Table._write_log)
    monkeypatch.setattr(Table, "_write_log", lambda self, snaps: hook(self, snaps))
    return hook


@pytest.fixture(scope="session")
def table_digests(spark):
    """``digests(work_dir, names)`` → {name: (rows, sha256 of the sorted
    rows)} of each table's current snapshot; asserts on the way that the
    row count its log records is the count a read returns."""

    def digests(work_dir: str, names) -> dict:
        out = {}
        for name in names:
            t = Table(os.path.join(work_dir, name))
            rows = sorted(repr(tuple(r)) for r in t.read(spark).collect())
            assert t.current().row_count == len(rows), name
            out[name] = (len(rows), hashlib.sha256(repr(rows).encode()).hexdigest())
        return out

    return digests
