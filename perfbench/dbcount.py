"""A sqlite3 connection factory that counts statements and commits.

Used only by traced runs, as the ``connect`` of the upsert sink's
``DbapiService``. The sink opens connections on the driver and inside
Spark's Python workers, so each connection appends its counts to a file
in ``log_dir`` when it closes; :func:`drain` sums and removes them.
"""

from __future__ import annotations

import json
import os
import sqlite3
import uuid
from pathlib import Path


class _Cursor:
    def __init__(self, cur, owner: "CountingConnection") -> None:
        self._cur, self._owner = cur, owner

    def execute(self, *args):
        self._owner.statements += 1
        self._cur.execute(*args)
        return self

    def executemany(self, *args):
        self._owner.statements += 1
        self._cur.executemany(*args)
        return self

    def __getattr__(self, name):
        return getattr(self._cur, name)


class CountingConnection:
    def __init__(self, path: str, log_dir: str) -> None:
        self._conn = sqlite3.connect(path)
        self._log = Path(log_dir)
        self.statements = self.commits = 0

    def cursor(self) -> _Cursor:
        return _Cursor(self._conn.cursor(), self)

    def commit(self) -> None:
        self.commits += 1
        self._conn.commit()

    def rollback(self) -> None:
        self._conn.rollback()

    def close(self) -> None:
        self._conn.close()
        self._log.mkdir(parents=True, exist_ok=True)
        name = self._log / f"{os.getpid()}-{uuid.uuid4().hex[:8]}.json"
        name.write_text(json.dumps({"statements": self.statements, "commits": self.commits}))


def connect(path: str, log_dir: str) -> CountingConnection:
    return CountingConnection(path, log_dir)


def drain(log_dir: str) -> dict[str, int]:
    total = {"statements": 0, "commits": 0}
    for p in Path(log_dir).glob("*.json"):
        for k, v in json.loads(p.read_text()).items():
            total[k] += v
        p.unlink()
    return total
