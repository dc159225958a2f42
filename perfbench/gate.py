"""Per-run correctness gate.

Every timed operation (a batch build or a feed) runs inside
`Gate.operation`. It fails when it raises, when its accepted
alignments score below MIN_PRECISION or MIN_RECALL against the
generated gold, or when something that must repeat for the same seed
does not: the hash of the accepted pair set, the resolved vector_mode
and the threshold. Those values are compared between the operations
of one run and, through a small record file keyed by workload, size
and seed, between runs.
"""

from __future__ import annotations

import hashlib
import json
import sys
import traceback
from contextlib import contextmanager
from pathlib import Path

MIN_PRECISION = 0.95
MIN_RECALL = 0.95


def pair_set(ent1, ent2) -> set[tuple[str, str]]:
    """Alignments as unordered pairs."""
    return {(a, b) if a <= b else (b, a) for a, b in zip(ent1, ent2)}


def pair_hash(pairs: set[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a}\t{b}\n".encode())
    return h.hexdigest()


def precision_recall(pred: set, gold: set) -> tuple[float, float]:
    tp = len(pred & gold)
    return (tp / len(pred) if pred else 0.0, tp / len(gold) if gold else 0.0)


class Gate:
    def __init__(self, record: Path):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._record = record
        self._expected = json.loads(record.read_text()) if record.exists() else {}
        self._current: list[str] | None = None

    @contextmanager
    def operation(self, label: str):
        """One attempted operation; any exception or failed check inside
        marks it failed."""
        self.attempted += 1
        self._current = []
        try:
            yield
        except Exception as exc:  # the run must go on and report it
            traceback.print_exc(file=sys.stderr)
            self._current.append(f"{type(exc).__name__}: {exc}")
        finally:
            if self._current:
                self.failed += 1
                self.problems.extend(f"{label}: {p}" for p in self._current)
            self._current = None

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self._current.append(message)

    def expect_same(self, key: str, value) -> None:
        """`value` must equal what every earlier operation or run with
        the same workload, size and seed recorded under `key`."""
        want = self._expected.setdefault(key, value)
        self.check(want == value, f"{key} is {value!r}, earlier {want!r}")

    def quality(self, pairs: set, gold: set) -> tuple[float, float]:
        p, r = precision_recall(pairs, gold)
        self.check(p >= MIN_PRECISION, f"precision {p:.4f} < {MIN_PRECISION}")
        self.check(r >= MIN_RECALL, f"recall {r:.4f} < {MIN_RECALL}")
        return p, r

    def save(self) -> None:
        self._record.parent.mkdir(parents=True, exist_ok=True)
        self._record.write_text(json.dumps(self._expected, indent=1, sort_keys=True))
