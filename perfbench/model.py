"""Pure-Python reference model of the lakehouse table and of the
order-insensitive fingerprint every read is checked with.

Every commit in the workloads carries a version number above all earlier
ones, so latest-wins by (ver desc, tiebreak) reduces to "the last write
of a key wins"; a tombstone row, a deletion-vector delete and an
equality (merge-on-read) delete all hide the key until a later write.
"""

from __future__ import annotations

import zlib

# Row layout: (k, ver, status, price, cust, ts); the engine hides the
# ``_deleted`` marker on default reads, so the model never stores it.
K, VER, STATUS, PRICE, CUST, TS = range(6)


def cents(price: float) -> int:
    return int(round(price * 100))


def row_crc(row: tuple) -> int:
    """CRC-32 of ``k|ver|status|cents|cust|ts`` — the same string Spark
    builds with ``concat_ws('|', ...)`` over these integer and string
    columns, so both sides hash identical bytes."""
    k, ver, status, price, cust, ts = row
    return zlib.crc32(f"{k}|{ver}|{status}|{cents(price)}|{cust}|{ts}".encode())


def fingerprint(rows) -> tuple[int, int]:
    """(row count, sum of row CRCs): independent of row order."""
    n = s = 0
    for row in rows:
        n += 1
        s += row_crc(row)
    return n, s


class TableModel:
    """Visible rows per key, plus a frozen copy per committed version."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, dict[int, tuple]] = {}

    def commit(self, version: int) -> None:
        self.versions[version] = dict(self.rows)

    def upsert(self, batch) -> None:
        for row in batch:
            if row[6]:  # _deleted
                self.rows.pop(row[0], None)
            else:
                self.rows[row[0]] = tuple(row[:6])

    def delete(self, keys) -> None:
        for k in keys:
            self.rows.pop(k, None)

    def replace_where_ts(self, lo: int, hi: int, new_rows) -> None:
        self.rows = {k: r for k, r in self.rows.items() if not lo <= r[TS] <= hi}
        self.upsert(new_rows)

    # -- expected read results ------------------------------------------
    def at(self, version: int | None) -> dict[int, tuple]:
        return self.rows if version is None else self.versions[version]

    def point(self, cust: int) -> tuple[int, int]:
        return fingerprint(r for r in self.rows.values() if r[CUST] == cust)

    def ts_range(self, lo: int, hi: int) -> tuple[int, int]:
        return fingerprint(r for r in self.rows.values() if lo <= r[TS] <= hi)

    def price_range(self, lo: float, hi: float) -> tuple[int, int]:
        return fingerprint(r for r in self.rows.values() if lo <= r[PRICE] <= hi)

    def snapshot(self, version: int | None = None) -> tuple[int, int]:
        return fingerprint(self.at(version).values())

    def cdf_deltas(self, v_from: int, v_to: int) -> dict[str, tuple[int, int]]:
        """Per-status (row delta, price delta in cents) between two
        versions: an insert adds to its new status, a delete subtracts
        from its old one, an update does both."""
        a, b = self.versions[v_from], self.versions[v_to]
        out: dict[str, list[int]] = {}

        def add(status, dn, dc):
            acc = out.setdefault(status, [0, 0])
            acc[0] += dn
            acc[1] += dc

        for k in a.keys() | b.keys():
            old, new = a.get(k), b.get(k)
            if old == new:
                continue
            if old is not None:
                add(old[STATUS], -1, -cents(old[PRICE]))
            if new is not None:
                add(new[STATUS], 1, cents(new[PRICE]))
        return {s: tuple(v) for s, v in out.items()}
