"""Seeded input generator.

Every input row is computed inside Spark from ``spark.range`` and hash
expressions of the seed, so set-up ships no rows through py4j. A data
set is a list of batches; the whole set is generated by ONE Spark job
and saved as plain parquet (one directory per batch), which serves two
readers that never see each other's bytes:

- the library's writer reads a batch back with ``spark.read.parquet``;
- the DuckDB oracle reads the same files directly.

Rows of one batch have distinct keys (key index = ``(j * A + offset) mod
M`` with ``A`` prime and larger than every ``M``, a permutation of
``j < n <= M``), so (key, event_time) is unique per batch — the writer's
file invariant — and the as-of winner of a key never depends on the
order of rows inside one file.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

KEY_STEP = 1_000_003  # prime, larger than any key domain used here
VALUE_MOD = 1_000_000
TAGS = 40  # distinct values of the string column ``s``


@dataclass(frozen=True)
class Batch:
    """One generated batch: ``n`` rows, keys drawn without repetition
    from ``[0, key_mod)``, event times uniform in
    ``[t_lo_us, t_lo_us + t_span_us)`` (epoch microseconds)."""

    id: int
    n: int
    key_mod: int
    t_lo_us: int
    t_span_us: int


def seed_int(seed: int, *parts) -> int:
    """Deterministic 31-bit integer from the seed and a label."""
    h = hashlib.sha256(repr((seed, parts)).encode()).digest()
    return int.from_bytes(h[:4], "little") & 0x7FFFFFFF


def key_name(idx: int) -> str:
    return f"k{idx:07d}"


def _arr(values) -> str:
    return "array(" + ", ".join(f"CAST({int(v)} AS BIGINT)" for v in values) + ")"


def generate(spark, batches: list[Batch], seed: int, out_dir: str) -> None:
    """Write every batch to ``out_dir/b=<id>/`` in one Spark job."""
    ids = [b.id for b in batches]
    if ids != list(range(len(batches))):
        raise ValueError("batch ids must be 0..n-1 in order")
    n_max = max(b.n for b in batches)
    offs = [seed_int(seed, "off", b.id) % b.key_mod for b in batches]
    param = {
        "n": _arr(b.n for b in batches),
        "mod": _arr(b.key_mod for b in batches),
        "off": _arr(offs),
        "lo": _arr(b.t_lo_us for b in batches),
        "span": _arr(b.t_span_us for b in batches),
    }

    def p(name: str) -> str:
        return f"element_at({param[name]}, CAST(b AS INT) + 1)"

    s = seed_int(seed, "hash")
    df = (
        spark.range(len(batches) * n_max)
        .selectExpr(f"id DIV {n_max} AS b", f"id % {n_max} AS j")
        .where(f"j < {p('n')}")
        .selectExpr(
            "b",
            f"format_string('k%07d', (j * {KEY_STEP} + {p('off')}) % {p('mod')}) AS key",
            f"{p('lo')} + pmod(xxhash64(j, b, {s}), {p('span')}) AS et_us",
            f"pmod(xxhash64(j, b, {s}, 1), {VALUE_MOD}) AS v",
            f"concat('s', pmod(xxhash64(j, b, {s}, 2), {TAGS})) AS s",
        )
    )
    (
        df.repartition(4, "b")
        .write.mode("overwrite")
        .partitionBy("b")
        .parquet(out_dir)
    )


_SCHEMA = "key STRING, et_us BIGINT, v BIGINT, s STRING"


def batch_frame(spark, out_dir: str, batch_id: int):
    """The batch as the writer's input: key, event_time, v, s."""
    return spark.read.schema(_SCHEMA).parquet(os.path.join(out_dir, f"b={batch_id}")).selectExpr(
        "key", "timestamp_micros(et_us) AS event_time", "v", "s"
    )


def batch_hashes(out_dir: str, n_batches: int) -> list[str]:
    """sha256 of each batch's rows in key order (read with DuckDB)."""
    import duckdb

    con = duckdb.connect()
    try:
        out = []
        for b in range(n_batches):
            rows = con.execute(
                "SELECT key, et_us, v, s FROM read_parquet(?) ORDER BY key",
                [os.path.join(out_dir, f"b={b}", "*.parquet")],
            ).fetchall()
            out.append(hashlib.sha256(repr(rows).encode()).hexdigest())
        return out
    finally:
        con.close()
