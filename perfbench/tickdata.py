"""Seeded tick-bar inputs and the expected results the benchmark checks
replies against.

Every price is a multiple of 1/512 and every adjustment factor is a
power of two (or 0, which ``adj()`` treats as 1), so adjusted values are
exact in float64 whatever order the products are taken in: replies are
compared with ``==``, not a tolerance.
"""

from __future__ import annotations

import numpy as np

T0 = 1_700_000_000  # epoch seconds of the first bar
ROW_BYTES = 64  # sec int + interval int + tm + six doubles
COLUMNS = "sec, interval, tm, open, high, low, close, v, vwap"
CREATE = (
    "create table {t}(sec int, interval int, tm timestamp, open double, "
    "high double, low double, close double, v double, vwap double, "
    "primary key(sec, interval, tm))"
)
INSERT = f"insert into {{t}}({COLUMNS}) values(?, ?, ?, ?, ?, ?, ?, ?, ?)"
INSERT_ADJ = "insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)"
PX_FACTORS = np.array([0.5, 0.25, 2.0, 0.0])  # 0 means "no adjustment"
VOL_FACTORS = np.array([2.0, 4.0, 0.5, 0.0])


class Series:
    """The bars of one (sec, interval) prefix as column arrays."""

    def __init__(self, seed: int, sec: int, interval: int, n: int, salt: int = 0):
        rng = np.random.default_rng([seed, sec, interval, salt])
        self.sec, self.interval, self.n = sec, interval, n
        self.tm = T0 + np.arange(n, dtype=np.int64) * (60 * interval)
        close = rng.integers(2_560, 102_400) + np.cumsum(rng.integers(-8, 9, n))
        close = np.maximum(close, 512)
        opn = np.concatenate(([close[0]], close[:-1]))
        self.close = close / 512.0
        self.open = opn / 512.0
        self.high = (np.maximum(opn, close) + rng.integers(0, 16, n)) / 512.0
        self.low = (np.minimum(opn, close) - rng.integers(0, 16, n)) / 512.0
        self.v = rng.integers(1, 100_000, n).astype(np.float64)
        self.vwap = (opn + close) / 1024.0

    def value_arrays(self):
        return [self.open, self.high, self.low, self.close, self.v, self.vwap]

    def correct(self, idx: np.ndarray, rng: np.random.Generator) -> None:
        """Overwrite the rows at ``idx`` with new values (an upsert)."""
        bump = rng.integers(1, 64, len(idx)) / 512.0
        for a in (self.open, self.high, self.low, self.close, self.vwap):
            a[idx] += bump
        self.v[idx] += 1.0

    def insert_rows(self, idx: np.ndarray) -> list[tuple]:
        cols = [self.tm[idx].tolist()] + [a[idx].tolist() for a in self.value_arrays()]
        return [(self.sec, self.interval) + r for r in zip(*cols)]

    def expected_values(self, lo: int, hi: int, factor=None) -> list[np.ndarray]:
        """open..vwap of rows ``[lo, hi)``; ``factor`` multiplies open..v
        (an ``adj()`` reply; vwap is not adjusted)."""
        vals = [a[lo:hi] for a in self.value_arrays()]
        if factor is not None:
            f = factor[lo:hi]
            vals = [a * f for a in vals[:5]] + [vals[5]]
        return vals

    def matches(self, got, lo: int, hi: int, factor=None) -> bool:
        """Whether a reply holds exactly rows ``[lo, hi)`` in PK order, as
        the client returns them: (sec, interval, (tm, 0), open, ..., vwap).
        Compared column-wise, so checking a 100k-row reply costs the
        client process little time next to the reads it is checking."""
        n = hi - lo
        if got is None or len(got) != n:
            return False
        if n == 0:
            return True
        cols = list(zip(*got))
        if len(cols) != 9 or cols[0].count(self.sec) != n or cols[1].count(self.interval) != n:
            return False
        tm = np.array(cols[2], dtype=np.int64)
        if tm.shape != (n, 2) or tm[:, 1].any() or not np.array_equal(tm[:, 0], self.tm[lo:hi]):
            return False
        want = self.expected_values(lo, hi, factor)
        return all(
            np.array_equal(np.array(c, dtype=np.float64), w) for c, w in zip(cols[3:], want)
        )

    def checksum(self, lo: int, hi: int) -> float:
        return float(sum(a.sum() for a in self.expected_values(lo, hi)))


class AdjEvents:
    """``_adj_`` rows of one security, with the forward factor each bar
    gets, computed independently of the engine's window/as-of plan."""

    def __init__(self, seed: int, sec: int, span_s: int):
        rng = np.random.default_rng([seed, sec, 7])
        k = int(rng.integers(3, 8))
        # event times on minute boundaries, so some equal a bar's tm and
        # exercise the "first event strictly after tm" rule
        self.time = np.sort(
            T0 + 60 * rng.choice(span_s // 60, size=k, replace=False)
        ).astype(np.int64)
        self.px = PX_FACTORS[rng.integers(0, 4, k)]
        self.vol = VOL_FACTORS[rng.integers(0, 4, k)]

    def rows(self, sec: int) -> list[tuple]:
        return [
            (sec, t, p, v)
            for t, p, v in zip(self.time.tolist(), self.px.tolist(), self.vol.tolist())
        ]

    def forward_px(self, tm: np.ndarray) -> np.ndarray:
        """Product of the price factors of every event later than each
        ``tm`` (zeros count as 1)."""
        px = np.where(self.px == 0, 1.0, self.px)
        suffix = np.append(np.cumprod(px[::-1])[::-1], 1.0)
        return suffix[np.searchsorted(self.time, tm, side="right")]
