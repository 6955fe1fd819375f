"""Operation accounting and in-memory spans.

An operation is one query call, one chain stage call or one
``run_ingest`` task row. A span is a named wall-clock window around one
call into the package; spans are kept in memory and folded into
per-layer metrics after the run (see ``trace``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Outcome:
    """Truthy once the operation it belongs to has completed."""

    def __init__(self) -> None:
        self.ok = False

    def __bool__(self) -> bool:
        return self.ok


class Ops:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._names: set[str] = set()
        self._failed_names: set[str] = set()

    @contextmanager
    def op(self, name: str):
        """Count one operation; an exception inside counts it failed and
        is swallowed so the run can go on and still report."""
        outcome = Outcome()
        self._attempt(name)
        try:
            yield outcome
        except Exception as ex:  # noqa: BLE001 — the run must report every failure
            self._fail(name, repr(ex))
        else:
            outcome.ok = True

    def _attempt(self, name: str) -> None:
        self.attempted += 1
        self._names.add(name)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self._failed_names.add(name)
        self.errors.append(f"{name}: {why}"[:400])

    def fail_rest(self, names: list[str], why: str = "not run: an earlier stage failed") -> None:
        """Operations that cannot run because one they depend on failed."""
        for name in names:
            self._attempt(name)
            self._fail(name, why)

    def task_rows(self, rows: list[dict]) -> None:
        """``run_ingest`` result rows: each is one operation, failed when
        its ``ok`` flag is false."""
        for r in rows:
            name = f"task:{r.get('station')}/{r.get('sky_type')}"
            self._attempt(name)
            if not r.get("ok"):
                self._fail(name, str(r.get("error")))

    def wrong(self, name: str, why: str) -> None:
        """An operation that completed with a wrong output. Counted once
        per operation, and not again if it already failed."""
        if name in self._names and name not in self._failed_names:
            self._fail(name, f"wrong output: {why}")


class Spans:
    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((name, t0, time.time()))
