"""Python model of the key-value workload's state, and the checks that hold
every kv op's output against it.  Spark-free, unit tested."""

from __future__ import annotations

from summary import logical_row_bytes

FIELDS = ("k", "uid", "a", "b", "c")


class KvModel:
    """What the BTable and the Stash must hold after every op.

    ``table`` and ``stash`` map key -> full row tuple (``FIELDS`` order);
    ``counts`` records the table's live row count at every committed
    version, so time-travel reads are checked against history."""

    def __init__(self, rows: list[tuple]):
        self.table = {r[0]: r for r in rows}
        self.stash = dict(self.table)
        self.version = 0
        self.counts = {0: len(self.table)}

    # ---- state transitions (mirror the engine call just made) -----------
    def commit(self, version: int) -> None:
        if version < self.version:
            raise AssertionError(f"version went back: {version} < {self.version}")
        for v in range(self.version + 1, version + 1):
            self.counts[v] = len(self.table)
        self.version = version

    def upsert(self, rows: list[tuple], version: int) -> None:
        for r in rows:
            self.table[r[0]] = r
        self.commit(version)

    def delete(self, keys: list[int], version: int) -> None:
        for k in keys:
            self.table.pop(k, None)
        self.commit(version)

    def stash_upsert(self, rows: list[tuple]) -> None:
        for r in rows:
            self.stash[r[0]] = r

    # ---- expected outputs ------------------------------------------------
    @staticmethod
    def _pick(store: dict, keys) -> list[tuple]:
        return sorted(store[k] for k in keys if k in store)

    def table_rows(self, keys) -> list[tuple]:
        return self._pick(self.table, keys)

    def stash_rows(self, keys) -> list[tuple]:
        return self._pick(self.stash, keys)

    def stash_range(self, lo: int, hi: int) -> list[tuple]:
        return self._pick(self.stash, range(lo, hi + 1))

    def count_at(self, version: int) -> int:
        return self.counts[version]

    def live_logical_bytes(self) -> int:
        return sum(logical_row_bytes(r) for r in self.table.values()) + sum(
            logical_row_bytes(r) for r in self.stash.values()
        )


def as_tuples(rows, fields=FIELDS) -> list[tuple]:
    """Spark ``Row``s (or dicts) -> sorted tuples in ``fields`` order."""
    return sorted(tuple(r[f] for f in fields) for r in rows)


def check_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    got, want = sorted(got), sorted(want)
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if g != w:
            return f"row {g!r} != expected {w!r}"
    return "rows differ"
