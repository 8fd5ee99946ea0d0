"""Outside-in tracer: spans and counters at the library's module
boundaries, installed by patching from the benchmark's side.

Nothing in ``bazof_spark`` is edited. ``install()`` replaces public
functions and methods with wrappers that record a span (name, start,
end, parent) while an operation is open, and restores every original on
``uninstall()``. A module that imported a function by name keeps its
own binding, so such names are patched at the importing module too.

Counters kept at the same boundaries:

- py4j commands, counted at ``JavaClient.send_command`` and charged to
  the layer of the innermost open span;
- Spark jobs, stages and tasks of each operation, read from
  ``statusTracker`` under a job group named after the operation;
- files in the snapshot against files kept by pruning, snapshot parses,
  versioned views referenced, and iofs bytes moved.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from collections import Counter

# (module, attribute path in the module, span name)
_TARGETS = [
    ("bazof_spark.lakehouse", "Lakehouse.scan", "lakehouse.scan"),
    ("bazof_spark.lakehouse", "Lakehouse.sql", "lakehouse.sql"),
    ("bazof_spark.table", "Table.current_version", "table.current_version"),
    ("bazof_spark.table", "Table.get_snapshot", "table.get_snapshot"),
    ("bazof_spark.metadata", "Snapshot.deserialize", "metadata.deserialize"),
    ("bazof_spark.metadata", "Snapshot.ranked_data_files", "metadata.prune"),
    ("bazof_spark.metadata", "Snapshot.serialize", "metadata.serialize"),
    ("bazof_spark.sql", "parse_show", "sql.parse"),
    ("bazof_spark.sql", "parse_maintenance", "sql.parse"),
    ("bazof_spark.sql", "parse_dml", "sql.parse"),
    ("bazof_spark.lakehouse", "rewrite_and_extract_tables", "sql.parse"),
    ("bazof_spark.writer", "append_delta", "writer.upsert"),
    ("bazof_spark.writer", "dataframe_to_parquet_file", "writer.parquet"),
    ("bazof_spark.maintenance", "dataframe_to_parquet_file", "writer.parquet"),
    ("bazof_spark.writer", "file_zone_stats", "writer.stats"),
    ("bazof_spark.writer", "file_key_bloom", "writer.stats"),
    ("bazof_spark.maintenance", "checkpoint_table", "maintenance.checkpoint"),
    ("bazof_spark.maintenance", "optimize_table", "maintenance.optimize"),
] + [
    ("bazof_spark.iofs", fn, f"iofs.{fn}")
    for fn in (
        "read_text", "write_text", "replace_text", "move", "exists",
        "listdir", "listdir_info", "makedirs", "delete", "delete_dir",
        "file_mtime", "split",
    )
]


def _count_files(snapshot) -> int:
    def walk(seg) -> int:
        return (
            (seg.file is not None)
            + len(seg.delta)
            + sum(walk(s) for s in seg.segments)
        )

    return sum(walk(s) for s in snapshot.segments)


class Tracer:
    """Spans of the operations run between ``begin_op`` and
    ``end_op``. Calls made outside an operation pass straight through."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []  # (op, span, parent, name, start, end)
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._paused = False
        self._patches: list[tuple] = []
        self._files_total: dict[int, tuple] = {}  # id -> (snapshot, files)

    # -- spans ----------------------------------------------------------

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((self._op["id"], sid, parent, name, time.perf_counter(), None))
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self._stack.pop()
        op, s, parent, name, start, _ = self.spans[sid]
        self.spans[sid] = (op, s, parent, name, start, time.perf_counter())

    def span(self, name: str):
        """Context manager for a span opened by the benchmark itself."""
        tracer = self

        class _Span:
            def __enter__(self):
                self.sid = tracer._open(name) if tracer._op is not None else None

            def __exit__(self, *exc):
                if self.sid is not None:
                    tracer._close(self.sid)

        return _Span()

    def count(self, key: str, n: float = 1) -> None:
        if self._op is not None:
            self._op["counts"][key] += n

    def _layer(self) -> str:
        if not self._stack:
            return "bench"
        return self.spans[self._stack[-1]][3].split(".", 1)[0]

    # -- operations -----------------------------------------------------

    def begin_op(self, kind: str) -> None:
        op_id = len(self.ops)
        self._paused = True
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        self._paused = False
        self._op = {"id": op_id, "kind": kind, "counts": Counter()}
        self._open(f"op.{kind}")

    def end_op(self) -> dict:
        self._close(self._stack[0])
        op, self._op = self._op, None
        self._stack.clear()
        self._paused = True
        try:
            st = self.spark.sparkContext.statusTracker()
            for jid in st.getJobIdsForGroup(f"perfbench-{op['id']}"):
                op["counts"]["spark.jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        op["counts"]["spark.stages"] += 1
                        op["counts"]["spark.tasks"] += stage.numTasks
        finally:
            self._paused = False
        self.ops.append(op)
        return op

    def finish(self) -> None:
        """Clear the job group left on the driver thread."""
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- installation ---------------------------------------------------

    def _wrap(self, orig, name: str):
        tracer = self
        after = getattr(self, "_after_" + name.replace(".", "_"), None)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return orig(*args, **kwargs)
            sid = tracer._open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(sid)
            if after is not None:
                after(result, args, kwargs)
            return result

        return wrapper

    def install(self) -> None:
        import importlib

        from py4j.clientserver import JavaClient

        for mod_name, path, name in _TARGETS:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, staticmethod):
                new = staticmethod(self._wrap(raw.__func__, name))
            else:
                new = self._wrap(raw, name)
            setattr(owner, attr, new)
            self._patches.append((owner, attr, raw))

        tracer = self
        orig_send = JavaClient.send_command

        @functools.wraps(orig_send)
        def send_command(client, *args, **kwargs):
            if tracer._op is not None and not tracer._paused:
                tracer._op["counts"][f"py4j.{tracer._layer()}"] += 1
            return orig_send(client, *args, **kwargs)

        JavaClient.send_command = send_command
        self._patches.append((JavaClient, "send_command", orig_send))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- counters fed from wrapped results ------------------------------

    def _after_metadata_prune(self, result, args, kwargs) -> None:
        snap = args[0]
        hit = self._files_total.get(id(snap))
        if hit is None:
            # the entry holds the snapshot, so its id is never reused
            hit = self._files_total[id(snap)] = (snap, _count_files(snap))
        self.count("metadata.files_total", hit[1])
        self.count("metadata.files_kept", len(result))

    def _after_sql_parse(self, result, args, kwargs) -> None:
        # rewrite_and_extract_tables returns (sql, [VersionedTable])
        if isinstance(result, tuple) and len(result) == 2 and isinstance(result[1], list):
            self.count(
                "sql.versioned_refs",
                sum(1 for vt in result[1] if vt.versioned_name != vt.name),
            )

    def _after_iofs_read_text(self, result, args, kwargs) -> None:
        n = len(result.encode("utf-8"))
        self.count("iofs.read_bytes", n)
        path = str(args[0])
        if path.rsplit("/", 1)[-1].startswith("s") and path.endswith(".json"):
            self.count("table.snapshot_bytes", n)

    def _after_iofs_write_text(self, result, args, kwargs) -> None:
        self.count("iofs.write_bytes", len(str(args[1]).encode("utf-8")))

    _after_iofs_replace_text = _after_iofs_write_text

    # -- output ---------------------------------------------------------

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for op, sid, parent, name, start, end in self.spans:
                f.write(
                    json.dumps(
                        {"op": op, "id": sid, "parent": parent, "name": name,
                         "start": start, "end": end}
                    )
                    + "\n"
                )


_IOFS_WRITE = ("iofs.write_text", "iofs.move", "iofs.replace_text")


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics from the spans and counters of the traced
    operations. Times are ms per operation unless named per upsert or
    per compaction."""
    spans = tracer.spans
    children: dict[int, list[int]] = {}
    for _, sid, parent, *_ in spans:
        if parent >= 0:
            children.setdefault(parent, []).append(sid)

    def dur(sid: int) -> float:
        return spans[sid][5] - spans[sid][4]

    def self_time(sid: int) -> float:
        return dur(sid) - sum(dur(c) for c in children.get(sid, ()))

    def ancestors(sid: int):
        p = spans[sid][2]
        while p >= 0:
            yield spans[p][3]
            p = spans[p][2]

    tot: Counter = Counter()
    for op in tracer.ops:
        tot.update(op["counts"])
    names = Counter()
    for _, sid, parent, name, *_ in spans:
        names[name] += 1
        if name in ("table.current_version", "table.get_snapshot"):
            tot["t.resolve"] += dur(sid)
        elif name == "metadata.prune":
            tot["t.prune"] += dur(sid)
        elif name == "metadata.serialize":
            tot["t.serialize"] += dur(sid)
        elif name == "sql.parse":
            tot["t.sql_parse"] += dur(sid)
        elif name in ("lakehouse.scan", "lakehouse.sql"):
            tot["t.build"] += self_time(sid)
            if name == "lakehouse.scan" and "lakehouse.sql" in ancestors(sid):
                tot["views_built"] += 1
        elif name == "spark.exec":
            tot["t.exec"] += dur(sid)
        elif name == "writer.upsert":
            tot["t.upsert"] += dur(sid)
        elif name.startswith("maintenance.") and not any(
            a.startswith("maintenance.") for a in ancestors(sid)
        ):
            tot["t.checkpoint"] += dur(sid)
        if name.startswith("iofs."):
            tot["iofs.calls"] += 1
        in_upsert = "writer.upsert" in ancestors(sid) if name.startswith(("writer.", "iofs.")) else False
        if in_upsert:
            if name == "writer.parquet":
                tot["t.parquet"] += dur(sid)
            elif name == "writer.stats":
                tot["t.stats"] += dur(sid)
            elif name in _IOFS_WRITE:
                tot["t.publish"] += dur(sid)

    n_ops = max(1, len(tracer.ops))
    kinds = Counter(op["kind"] for op in tracer.ops)
    n_up = kinds.get("upsert", 0)
    n_cmp = kinds.get("compact", 0)
    up_ops = [op for op in tracer.ops if op["kind"] == "upsert"]
    cmp_ops = [op for op in tracer.ops if op["kind"] == "compact"]
    prunes = max(1, names["metadata.prune"])
    per_op = lambda k: tot[k] / n_ops  # noqa: E731
    ms = lambda k: 1000 * tot[k] / n_ops  # noqa: E731
    out = {
        "table.resolve_ms": ms("t.resolve"),
        "table.snapshot_bytes": per_op("table.snapshot_bytes"),
        "table.parse_hit_frac": 1 - names["metadata.deserialize"] / max(1, names["table.get_snapshot"]),
        "metadata.prune_ms": ms("t.prune"),
        "metadata.files_total": tot["metadata.files_total"] / prunes,
        "metadata.files_kept": tot["metadata.files_kept"] / prunes,
        "metadata.files_kept_frac": tot["metadata.files_kept"] / max(1, tot["metadata.files_total"]),
        "metadata.serialize_ms": ms("t.serialize"),
        "sql.parse_ms": ms("t.sql_parse"),
        "sql.views_built": tot["views_built"] / max(1, kinds.get("sql", 0)),
        "sql.view_reuse_frac": (
            1 - tot["views_built"] / tot["sql.versioned_refs"]
            if tot["sql.versioned_refs"] else 0.0
        ),
        "lakehouse.build_ms": ms("t.build"),
        "lakehouse.py4j_calls": sum(tot[f"py4j.{x}"] for x in ("lakehouse", "sql", "table", "metadata")) / n_ops,
        "spark.exec_ms": ms("t.exec"),
        "spark.jobs": per_op("spark.jobs"),
        "spark.stages": per_op("spark.stages"),
        "spark.tasks": per_op("spark.tasks"),
        "spark.py4j_calls": per_op("py4j.spark"),
        "iofs.calls": per_op("iofs.calls"),
        "iofs.read_bytes": per_op("iofs.read_bytes"),
        "iofs.write_bytes": per_op("iofs.write_bytes"),
    }
    if n_up:
        out.update({
            "writer.upsert_ms": 1000 * tot["t.upsert"] / n_up,
            "writer.parquet_ms": 1000 * tot["t.parquet"] / n_up,
            "writer.stats_ms": 1000 * tot["t.stats"] / n_up,
            "writer.publish_ms": 1000 * tot["t.publish"] / n_up,
            "writer.spark_jobs": sum(op["counts"]["spark.jobs"] for op in up_ops) / n_up,
            "writer.data_bytes": sum(op["counts"]["writer.data_bytes"] for op in up_ops) / n_up,
            "writer.snapshot_bytes": sum(op["counts"]["writer.snapshot_bytes"] for op in up_ops) / n_up,
        })
    if n_cmp:
        out.update({
            "maintenance.checkpoint_ms": 1000 * tot["t.checkpoint"] / n_cmp,
            "maintenance.bytes_rewritten": sum(op["counts"]["maintenance.bytes_rewritten"] for op in cmp_ops) / n_cmp,
            "maintenance.files_before": sum(op["counts"]["maintenance.files_before"] for op in cmp_ops) / n_cmp,
            "maintenance.files_after": sum(op["counts"]["maintenance.files_after"] for op in cmp_ops) / n_cmp,
        })
    return out
