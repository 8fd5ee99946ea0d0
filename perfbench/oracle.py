"""Independent oracle: DuckDB over the generated batches.

The oracle never reads a file the library wrote. It keeps its own model
of the segment tree — which generated batch sits where — and applies the
format's documented merge rule to the generator's plain parquet:

- top-level segments are all visited; a child segment is visited only
  when ``start <= t <= end`` (``end`` absent = open; Current visits only
  open segments);
- a segment's deltas are eligible when ``start <= t`` and rank by start,
  newest first (list order breaks ties — the writer places a new delta
  ahead of every delta with a start at or before its own);
- a segment's base ranks after its deltas, and only when the segment is
  in range; children rank ahead of their parent's deltas;
- per key, the lowest-ranked file wins; within it, the latest
  ``event_time <= t``.
"""

from __future__ import annotations

import copy
import os
from dataclasses import dataclass, field


@dataclass
class Seg:
    """A segment of the oracle's layout model (times in epoch µs, all
    multiples of 1000 so they match the millisecond snapshot format)."""

    id: str
    start: int
    end: int | None = None
    base: int | None = None  # batch id of the base file
    children: list["Seg"] = field(default_factory=list)
    deltas: list[tuple[int, int]] = field(default_factory=list)  # (batch, start)

    def in_range(self, t: int | None) -> bool:
        if t is None:
            return self.end is None
        if self.end is not None:
            return self.start <= t <= self.end
        return self.start <= t

    def order(self, t: int | None) -> list[int]:
        out: list[int] = []
        for c in self.children:
            if c.in_range(t):
                out.extend(c.order(t))
        eligible = [d for d in self.deltas if t is None or d[1] <= t]
        eligible.sort(key=lambda d: d[1], reverse=True)  # stable
        out.extend(b for b, _ in eligible)
        if self.base is not None and self.in_range(t):
            out.append(self.base)
        return out


def precedence(top: list[Seg], t: int | None) -> list[int]:
    """Batch ids in merge precedence order for instant ``t`` (None =
    Current)."""
    out: list[int] = []
    for s in top:
        out.extend(s.order(t))
    return out


def insert_delta(seg: Seg, batch: int, start: int) -> None:
    """Place a new delta ahead of every delta starting at or before it."""
    idx = len(seg.deltas)
    for i, (_, s) in enumerate(seg.deltas):
        if s <= start:
            idx = i
            break
    seg.deltas.insert(idx, (batch, start))


def checkpoint(top: list[Seg], at: int, seg_id: str, base_batch: int) -> list[Seg]:
    """Layout after a checkpoint at ``at``: open segments close under a
    wrapper and a new open segment starts at ``at`` with the merged
    Current state as its base."""
    open_ = [s for s in top if s.end is None]
    closed = [s for s in top if s.end is not None]
    out = list(closed)
    if open_:
        kids = []
        for s in open_:
            c = copy.deepcopy(s)
            c.end = at
            kids.append(c)
        out.append(
            Seg(id=f"{seg_id}_archived", start=min(s.start for s in open_), end=at,
                children=kids)
        )
    out.append(Seg(id=seg_id, start=at, base=base_batch))
    return out


class Oracle:
    """DuckDB view of the generated batches plus derived (virtual)
    batches such as checkpoint bases."""

    def __init__(self, gen_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE rows AS SELECT CAST(b AS INTEGER) AS batch, key, et_us, "
            "v, s FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(gen_dir, "*", "*.parquet")],
        )
        self._states: dict = {}

    def close(self) -> None:
        self.con.close()

    def batch_min_start(self) -> dict[int, int]:
        """Per batch: min event time floored to the millisecond — the
        start the writer records when none is passed."""
        return {
            b: (lo // 1000) * 1000
            for b, lo in self.con.execute(
                "SELECT batch, min(et_us) FROM rows GROUP BY batch"
            ).fetchall()
        }

    def _state_sql(self, order: list[int], t: int | None, keys) -> tuple[str, list]:
        if not order:
            return "SELECT key, et_us, v, s FROM rows WHERE false", []
        ranks = ", ".join(f"({b}, {i})" for i, b in enumerate(order))
        where, params = [], []
        if t is not None:
            where.append("et_us <= ?")
            params.append(t)
        if keys is not None:
            where.append("key IN (SELECT unnest(?))")
            params.append(list(keys))
        cond = ("WHERE " + " AND ".join(where)) if where else ""
        sql = (
            f"SELECT key, et_us, v, s FROM (SELECT rows.*, r.rnk FROM rows "
            f"JOIN (VALUES {ranks}) r(batch, rnk) USING (batch) {cond}) "
            "QUALIFY row_number() OVER (PARTITION BY key ORDER BY rnk, et_us DESC) = 1"
        )
        return sql, params

    def lookup(self, order: list[int], t: int | None, keys) -> set[tuple]:
        """Winning rows ``(key, et_us, v, s)`` for ``keys`` at ``t``."""
        sql, params = self._state_sql(order, t, keys)
        return set(self.con.execute(sql, params).fetchall())

    def add_state_batch(self, batch: int, order: list[int]) -> None:
        """Materialize the Current state of ``order`` as batch
        ``batch`` (a checkpoint base)."""
        sql, params = self._state_sql(order, None, None)
        self.con.execute(
            f"INSERT INTO rows SELECT {int(batch)}, key, et_us, v, s FROM ({sql})",
            params,
        )

    def state_table(self, order: list[int], t: int) -> str:
        """Name of a DuckDB table holding the full state at ``t``,
        built once per distinct (order, t)."""
        k = (tuple(order), t)
        name = self._states.get(k)
        if name is None:
            name = f"st{len(self._states)}"
            sql, params = self._state_sql(order, t, None)
            self.con.execute(f"CREATE TEMP TABLE {name} AS {sql}", params)
            self._states[k] = name
        return name

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()
