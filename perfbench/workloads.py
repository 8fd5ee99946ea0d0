"""The benchmark's workloads: closed loops with one client.

Each workload authors its table through the public writer during
set-up, then yields operations in a fixed, seeded order. An operation
is a callable that runs the library call and collects its result inside
the timer, plus a check that compares that result with the oracle
outside the timer.

- ``lookup``: as-of point lookups on a table of 260 files in a
  two-level segment tree (period -> child segments, each with a base
  and two time-sliced deltas of 32 files). Parquet bytes are tiny, so time
  goes to snapshot resolution, the segment walk and bloom pruning, plan
  construction and job latency.
- ``asof_sql``: time-travel SQL (three templates) over one table of
  250k rows in 14 files, at instants drawn mostly from a few repeated
  "report" instants. The parquet read and the merge shuffle dominate,
  and repeated instants reuse pinned views.
- ``ingest``: upserts (new keys, updated keys, late batches), lookups
  at Current and at past snapshot versions, and a checkpoint or
  optimize every four upserts, on a table whose snapshot count passes
  the 64-entry parse cache.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Callable

from gen import Batch, batch_frame, generate, key_name, seed_int
from oracle import Oracle, Seg, checkpoint, insert_delta, precedence

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
T0 = int((datetime(2024, 1, 1, tzinfo=timezone.utc) - EPOCH).total_seconds()) * 10**6
MS = 1000
HOUR = 3600 * 10**6
DAY = 24 * HOUR


def to_dt(us: int) -> datetime:
    return EPOCH + timedelta(microseconds=us)


def to_us(dt: datetime) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - EPOCH) // timedelta(microseconds=1)


def rfc3339(us: int) -> str:
    return to_dt(us).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def row_set(rows) -> set[tuple]:
    return {(r["key"], to_us(r["event_time"]), r["v"], r["s"]) for r in rows}


@dataclass
class Op:
    """A read builds a DataFrame that the harness collects; a write
    runs to an acknowledged commit. ``check`` gets the collected rows
    or the write's return value."""

    kind: str  # lookup | sql | lookup_cur | lookup_ver | upsert | compact
    check: Callable[[object], bool]
    build: Callable[[], object] | None = None
    run: Callable[[], object] | None = None


class Workload:
    """Shared plumbing: generated inputs, the oracle, the lakehouse."""

    cycle = 1  # the timed phase stops only at a multiple of this many ops
    warmup = 16  # ops run before the timer, while the JVM's JIT settles

    def __init__(self, spark, work: str, seed: int):
        from bazof_spark import Lakehouse

        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed_int(seed, type(self).__name__))
        self.work = work
        self.gen_dir = os.path.join(work, "gen")
        self.root = os.path.join(work, "lakehouse")
        os.makedirs(self.root, exist_ok=True)
        self.lh = Lakehouse(spark, self.root)
        self.oracle: Oracle | None = None
        self.oracle_s = 0.0  # oracle work during set-up, kept out of setup_s

    def _generate(self, batches: list[Batch]) -> None:
        generate(self.spark, batches, self.seed, self.gen_dir)
        t = time.perf_counter()
        self.oracle = Oracle(self.gen_dir)
        self.oracle_s += time.perf_counter() - t

    def frame(self, batch_id: int):
        return batch_frame(self.spark, self.gen_dir, batch_id)

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()

    def start_timing(self) -> None:
        """Called between the warm-up and the timed phase."""

    def final_checks(self) -> list[bool]:
        return []


class Lookup(Workload):
    K = 4000
    PERIOD = 180 * DAY
    CHILD = 90 * DAY
    SLICE = 45 * DAY
    FILES_PER_SLICE = 32
    TABLE = "lk"

    def setup(self) -> None:
        from bazof_spark import ColumnDef, ColumnType, TableSchema, TableWriter

        batches: list[Batch] = []
        top: list[Seg] = []

        def add(n: int, lo: int, span: int) -> int:
            batches.append(Batch(len(batches), n, self.K, lo, span))
            return len(batches) - 1

        for p in range(2):
            ps = T0 + p * self.PERIOD
            pseg = Seg(f"p{p}", ps, ps + self.PERIOD - MS)
            top.append(pseg)
            for c in range(2):
                cs = ps + c * self.CHILD
                cseg = Seg(f"p{p}c{c}", cs, cs + self.CHILD - MS, base=add(self.K, cs, 1))
                for s in range(2):
                    ss = cs + s * self.SLICE
                    b = add(self.K // 2, ss, self.SLICE - MS)
                    cseg.deltas.append((b, ss))
                pseg.children.append(cseg)
        self._generate(batches)
        self.top = top
        self.span = (T0, T0 + 2 * self.PERIOD - MS)

        schema = TableSchema((ColumnDef("v", ColumnType.INT), ColumnDef("s", ColumnType.STRING)))
        w = TableWriter(self.spark, os.path.join(self.root, self.TABLE), schema)
        for pseg in top:
            pb = w.add_segment(pseg.id, to_dt(pseg.start), to_dt(pseg.end))
            for cseg in pseg.children:
                cb = pb.add_child(cseg.id, to_dt(cseg.start), to_dt(cseg.end),
                                  base_df=self.frame(cseg.base), validate=False)
                for b, ss in cseg.deltas:
                    cb.add_delta_distributed(
                        self.frame(b), to_dt(ss), to_dt(ss + self.SLICE - MS),
                        num_files=self.FILES_PER_SLICE, validate=False,
                    )
        w.commit("1")
        self._seen: set[int] = set()

    def _instant(self) -> int:
        lo, hi = self.span
        while True:
            t = self.rng.randrange(lo // MS, hi // MS + 1) * MS
            if t not in self._seen:
                self._seen.add(t)
                return t

    def _keys(self) -> list[str]:
        # 1..8 keys in turn, so every seed gets the same mix of lookup
        # sizes; ~10% of the keys drawn were never in the table
        self._n_ops = getattr(self, "_n_ops", 0) + 1
        picks = self.rng.sample(range(int(self.K * 1.1)), (self._n_ops - 1) % 8 + 1)
        return sorted(key_name(k) for k in picks)

    def ops(self):
        while True:
            t, keys = self._instant(), self._keys()
            order = precedence(self.top, t)
            yield Op(
                "lookup",
                build=lambda t=t, k=keys: self.lh.scan(self.TABLE, as_of=to_dt(t), keys=k),
                check=lambda rows, o=order, t=t, k=keys: row_set(rows) == self.oracle.lookup(o, t, k),
            )

    def mutated_op(self) -> Op:
        """A lookup whose as-of bound is dropped (it reads at the end of
        the table's span) but is checked against the instant it claims —
        the check must fail."""
        t, keys = self._instant(), self._keys()
        order = precedence(self.top, t)
        return Op("lookup", build=lambda: self.lh.scan(self.TABLE, as_of=to_dt(self.span[1]), keys=keys),
                  check=lambda rows: row_set(rows) == self.oracle.lookup(order, t, keys))


class AsofSql(Workload):
    K = 100_000
    SLICES = 5
    SLICE_ROWS = 30_000
    SLICE = 10 * DAY
    TABLE = "big"
    # Report statements — the aggregate and the two-instant join — run at
    # three fixed "report" instants (indexes below, taken in turn); the
    # ad-hoc top-5 runs at a new, recent instant each time. Per six
    # statements 6 of 8 instants repeat (report instant 0: 3, 1: 2,
    # 2: 1). The warm-up covers one period, so in the timed phase every
    # report instant reuses its pinned view and every unique instant
    # builds one: the same mix in every seed, one latency mode per
    # template.
    AGG_AT = (0, 1)
    JOIN_AT = ((1, 0), (2, 0))
    cycle = 6
    warmup = 6

    def setup(self) -> None:
        from bazof_spark import ColumnDef, ColumnType, TableSchema, TableWriter

        batches = [Batch(0, self.K, self.K, T0, DAY - MS)]
        seg = Seg("main", T0, deltas=[(0, T0)])
        for i in range(self.SLICES):
            lo = T0 + (i + 1) * self.SLICE
            batches.append(Batch(i + 1, self.SLICE_ROWS, self.K, lo, self.SLICE - MS))
            seg.deltas.append((i + 1, lo))
        self._generate(batches)
        self.top = [seg]
        self.span = (T0, T0 + (self.SLICES + 1) * self.SLICE - MS)
        # report instants: slice boundaries the skewed draw repeats
        self.report = [T0 + (i + 1) * self.SLICE + self.SLICE // 2 for i in range(3)]

        schema = TableSchema((ColumnDef("v", ColumnType.INT), ColumnDef("s", ColumnType.STRING)))
        w = TableWriter(self.spark, os.path.join(self.root, self.TABLE), schema)
        sb = w.add_segment("main", to_dt(T0))
        for b, lo in seg.deltas:
            span = DAY - MS if b == 0 else self.SLICE - MS
            sb.add_delta_distributed(self.frame(b), to_dt(lo), to_dt(lo + span),
                                     num_files=4 if b == 0 else 2, validate=False)
        w.commit("1")
        self._refs = 0
        self._repeats = 0
        self._used: set[int] = set()

    def _unique_instant(self) -> int:
        # in the last two slices, so it reads the same files whatever
        # the seed
        lo, hi = self.span[1] - 2 * self.SLICE, self.span[1]
        return self.rng.randrange(lo // MS, hi // MS + 1) * MS

    def start_timing(self) -> None:
        self._refs = self._repeats = 0  # the share covers the timed phase

    def _note(self, *instants: int) -> None:
        for t in instants:
            self._refs += 1
            self._repeats += t in self._used
            self._used.add(t)

    @property
    def repeated_instant_frac(self) -> float:
        return self._repeats / max(1, self._refs)

    def _state(self, t: int) -> str:
        return self.oracle.state_table(precedence(self.top, t), t)

    def _make(self, template: int, k: int):
        """(instants, spark sql, oracle sql producer, ordered?) for the
        ``k``-th statement of one template."""
        if template == 0:
            t = self.report[self.AGG_AT[k % len(self.AGG_AT)]]
            q = "SELECT s, count(*) AS c, sum(v) AS sv FROM {} GROUP BY s"
            return [t], q.format(f"{self.TABLE} AT('{rfc3339(t)}')"), lambda: q.format(self._state(t)), False
        if template == 1:
            t = self._unique_instant()
            tags = ", ".join(f"'s{x}'" for x in sorted(self.rng.sample(range(40), 3)))
            q = "SELECT key, v FROM {} WHERE s IN (" + tags + ") ORDER BY v DESC, key LIMIT 5"
            return [t], q.format(f"{self.TABLE} AT('{rfc3339(t)}')"), lambda: q.format(self._state(t)), True
        t1, t2 = (self.report[i] for i in self.JOIN_AT[k % len(self.JOIN_AT)])
        q = ("SELECT count(*) AS n, sum(a.v - b.v) AS dv FROM {} a JOIN {} b "
             "ON a.key = b.key WHERE a.v <> b.v")
        spark_q = q.format(f"{self.TABLE} FOR SYSTEM_TIME AS OF '{rfc3339(t1)}'",
                           f"{self.TABLE} FOR SYSTEM_TIME AS OF '{rfc3339(t2)}'")
        return [t1, t2], spark_q, lambda: q.format(self._state(t1), self._state(t2)), False

    def ops(self):
        i = 0
        while True:
            instants, spark_q, oracle_q, ordered = self._make(i % 3, i // 3)
            i += 1
            self._note(*instants)

            def check(rows, oq=oracle_q, ordered=ordered):
                got = [tuple(r) for r in rows]
                want = self.oracle.query(oq())
                return got == want if ordered else sorted(got) == sorted(want)

            yield Op("sql", build=lambda q=spark_q: self.lh.sql(q), check=check)


class Ingest(Workload):
    K0 = 3000
    BATCH_ROWS = 200
    NEW_KEYS_PER_BATCH = 40
    W = HOUR  # event-time window per upsert
    PREFILL = 64  # commits authored in set-up: the run passes the parse cache
    TIMED_BATCHES = 80
    TABLE = "ing"
    # one cycle: four upserts (the batch plan makes the third one late),
    # eight reads — one of each lookup size, 1..8 keys — and a compaction
    CYCLE = ("upsert", "lookup_cur", "upsert", "lookup_ver", "upsert",
             "lookup_cur", "upsert", "lookup_ver", "lookup_cur", "lookup_ver",
             "lookup_cur", "lookup_ver", "compact")
    cycle = len(CYCLE)
    warmup = 2 * len(CYCLE)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from bazof_spark import ColumnDef, ColumnType, TableSchema, TableWriter
        from bazof_spark.writer import commit_delta_files

        # batch plan: 0 = initial state; then PREFILL + TIMED_BATCHES
        # upserts in groups of four, the third one late. PREFILL is a
        # multiple of four, so the timed cycles keep the same pattern and
        # every compaction follows the group's last (on-time) upsert.
        batches = [Batch(0, self.K0, self.K0, T0, 1)]
        win = 0
        for b in range(1, 1 + self.PREFILL + self.TIMED_BATCHES):
            mod = self.K0 + self.NEW_KEYS_PER_BATCH * b
            if (b - 1) % 4 == 2:
                # overlaps the window two upserts back, but starts later:
                # file precedence, not event time, decides shared keys
                lo = T0 + (win - 1) * self.W + self.W // 8
            else:
                win += 1
                lo = T0 + win * self.W
            batches.append(Batch(b, self.BATCH_ROWS, mod, lo, self.W // 2))
        self._generate(batches)
        self.batches = batches
        t = time.perf_counter()
        self.min_start = self.oracle.batch_min_start()
        self.oracle_s += time.perf_counter() - t

        schema = TableSchema((ColumnDef("v", ColumnType.INT), ColumnDef("s", ColumnType.STRING)))
        self.path = os.path.join(self.root, self.TABLE)
        w = TableWriter(self.spark, self.path, schema)
        w.add_segment("s0", to_dt(T0), base_df=self.frame(0), validate=False)
        w.commit("1")
        self.top = [Seg("s0", T0, base=0)]
        self.version = 1
        self.orders = {1: precedence(self.top, None)}
        # prefill: one Spark job writes a file per batch, then one commit
        # per batch through the writer's commit path for staged files
        staged = os.path.join(self.work, "staged")
        (
            self.spark.read.parquet(self.gen_dir)
            .where(f"b BETWEEN 1 AND {self.PREFILL}")
            .selectExpr("b", "key", "timestamp_micros(et_us) AS event_time", "v", "s")
            # one task, sorted by batch, writes one file per batch
            .repartition(1)
            .sortWithinPartitions("b", F.desc("event_time"))
            .write.partitionBy("b").parquet(staged)
        )
        for b in range(1, 1 + self.PREFILL):
            d = os.path.join(staged, f"b={b}")
            files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
            start = self.min_start[b]
            commit_delta_files(self.path, files, to_dt(start),
                               to_dt(batches[b].t_lo_us + self.W // 2 - MS), create_segment=False)
            self._committed_upsert(b, start)
        self.next_batch = 1 + self.PREFILL
        self._n_reads = self._n_past = 0
        self.n_compactions = 0
        self.upserted_arrow_bytes = 0

    def start_timing(self) -> None:
        self.upserted_arrow_bytes = 0  # write_amp covers the timed phase

    def _committed_upsert(self, b: int, start: int) -> None:
        open_seg = [s for s in self.top if s.end is None][-1]
        insert_delta(open_seg, b, start)
        self._commit()

    def _commit(self) -> None:
        self.version += 1
        self.orders[self.version] = precedence(self.top, None)

    def _keys(self) -> list[str]:
        # 1..8 keys in turn, as in lookup; a few keys were never written
        self._n_reads += 1
        domain = self.batches[self.next_batch - 1].key_mod + 50
        picks = self.rng.sample(range(domain), (self._n_reads - 1) % 8 + 1)
        return sorted(key_name(k) for k in picks)

    def _version_ok(self, _result) -> bool:
        return self.lh.table(self.TABLE).current_version() == str(self.version)

    def batches_left(self) -> bool:
        return self.next_batch + 4 <= len(self.batches)

    def ops(self):
        import pyarrow.parquet as pq

        from bazof_spark import maintenance

        while self.batches_left():
            for step in self.CYCLE:
                if step == "upsert":
                    b = self.next_batch
                    self.next_batch += 1
                    frame = self.frame(b)
                    self.upserted_arrow_bytes += pq.read_table(
                        os.path.join(self.gen_dir, f"b={b}")).nbytes

                    def check(result, b=b):
                        self._committed_upsert(b, self.min_start[b])
                        return self._version_ok(result)

                    yield Op("upsert", run=lambda f=frame: self.lh.upsert(self.TABLE, f),
                             check=check)
                elif step == "compact":
                    # after every event so far, before the next window
                    at = self.batches[self.next_batch - 1].t_lo_us + self.W - MS
                    use_opt = self.n_compactions % 2 == 1
                    self.n_compactions += 1

                    def run(at=at, use_opt=use_opt):
                        if use_opt:
                            return maintenance.optimize_table(self.lh, self.TABLE, to_dt(at), cluster_by=["v"])
                        return maintenance.checkpoint_table(self.lh, self.TABLE, to_dt(at))

                    def check(result, at=at):
                        base = 1_000_000 + self.version
                        self.oracle.add_state_batch(base, self.orders[self.version])
                        self.top = checkpoint(self.top, at, f"c{base}", base)
                        self._commit()
                        return self._version_ok(result)

                    yield Op("compact", run=run, check=check)
                else:
                    yield self._read_op(step)

    def _read_op(self, step: str) -> Op:
        keys = self._keys()
        if step == "lookup_cur":
            v = self.version
        else:
            # past versions alternate between the 63 newest and the older
            # ones, beyond the 64-entry parse cache, so every seed gets the
            # same mix of cached and uncached snapshots
            self._n_past += 1
            recent = self._n_past % 2 == 1 or self.version <= 64
            lo, hi = (max(1, self.version - 63), self.version - 1) if recent else (1, self.version - 64)
            v = self.rng.randint(lo, hi)
        pinned = None if step == "lookup_cur" else v
        return Op(step, build=lambda: self.lh.scan(self.TABLE, version=pinned, keys=keys),
                  check=lambda rows: row_set(rows) == self.oracle.lookup(self.orders[v], None, keys))


    def final_checks(self) -> list[bool]:
        """A fresh Lakehouse on the same root returns every acknowledged
        upsert: its Current state equals the oracle's."""
        from bazof_spark import Lakehouse

        fresh = Lakehouse(self.spark, self.root)
        got = row_set(fresh.scan(self.TABLE).collect())
        return [got == self.oracle.lookup(self.orders[self.version], None, None)]

    def current_state_bytes(self, scratch: str) -> int:
        """Bytes of the Current state written as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = sorted(self.oracle.lookup(self.orders[self.version], None, None))
        tbl = pa.table({
            "key": [r[0] for r in rows],
            "event_time": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "v": [r[2] for r in rows],
            "s": [r[3] for r in rows],
        })
        path = os.path.join(scratch, "current_state.parquet")
        pq.write_table(tbl, path)
        return os.path.getsize(path)


WORKLOADS = {"lookup": Lookup, "asof_sql": AsofSql, "ingest": Ingest}
