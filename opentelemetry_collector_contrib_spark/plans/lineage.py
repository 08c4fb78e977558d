"""Per-sink lineage manifest: the checkpoint/offset analogue.

Reference: the filelog receiver persists Metadata{Fingerprint, Offset,
RecordNum, FileAttributes} per reader every poll cycle
(pkg/stanza/fileconsumer/internal/reader/reader.go:30-40, save/load at
internal/checkpoint/checkpoint.go:27,63) so a restart resumes at the last
committed offset.

Our unit of work is not a file offset but a sink: each successful sink
write records one manifest cell (run_id, sink, partition_id=0, row_count,
status, commit). The row count is observed on the write itself
(``DataFrame.observe``, the obsreport-counter analogue), never by
re-reading the output or re-running the upstream plan. A rerun loads the
manifest and SKIPS sinks that are committed — idempotent resume with no
duplicate rows (the exporter sending-queue retry semantics, made
transactional the way the reference can't be). Per-file row counts are
the table format's business (Iceberg data-file stats), not the manifest's.

In production the manifest is an Iceberg table and the commit id is the
Iceberg snapshot id (atomic rename gives all-or-nothing per sink); in-sandbox
it is a JSON file with the same schema behind the same interface.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

from .metrics import observe_rows


@dataclass
class LineageCell:
    run_id: str
    sink: str
    partition_id: int
    row_count: int
    status: str          # 'committed' | 'in_progress'
    commit_id: str
    wall_time: float


class LineageManifest:
    """JSON-file manifest implementing the Iceberg-manifest contract."""

    def __init__(self, path: str):
        self.path = path
        self._cells: dict[tuple[str, int], LineageCell] = {}
        if os.path.exists(path):
            with open(path) as f:
                for row in json.load(f):
                    cell = LineageCell(**row)
                    if cell.status == "committed":
                        self._cells[(cell.sink, cell.partition_id)] = cell

    def committed_sinks(self) -> set[str]:
        return {sink for (sink, _pid), c in self._cells.items()}

    def is_committed(self, sink: str) -> bool:
        return any(s == sink for (s, _pid) in self._cells)

    def cells_for(self, sink: str) -> list[LineageCell]:
        return [c for (s, _pid), c in sorted(self._cells.items()) if s == sink]

    def record_sink(self, run_id: str, sink: str, rows: int) -> None:
        # drop cells an older manifest may hold for this sink, so the sink
        # is exactly one committed cell
        self._cells = {k: c for k, c in self._cells.items() if k[0] != sink}
        self._cells[(sink, 0)] = LineageCell(run_id, sink, 0, rows, "committed", uuid.uuid4().hex, time.time())
        self._flush()

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([asdict(c) for c in self._cells.values()], f)
        os.replace(tmp, self.path)  # atomic commit (the Iceberg-snapshot stand-in)


def write_sinks_resumable(
    routed,
    sinks: dict[str, "object"],
    base_path: str,
    manifest_path: str | None = None,
    metrics=None,
    max_retries: int = 2,
    backoff_initial_s: float = 5.0,
    backoff_multiplier: float = 1.5,
    backoff_max_s: float = 30.0,
    sleep=None,
    writer=None,
) -> dict[str, str]:
    """Fan-out write with idempotent resume.

    Skips any sink already committed in the manifest. Each written sink
    commits one manifest cell whose row count is observed on the write
    itself: the frame handed to the writer carries a ``DataFrame.observe``
    row counter, so the count costs no extra Spark job. When a
    PipelineMetrics is passed (plans/metrics.py), per-sink rows, wall
    times, and resume decisions are recorded on it.

    Each sink write retries transient failures with exporterhelper's
    deterministic backoff (round 4: initial × multiplier^n capped at max —
    the same schedule as plans/sinks.retry_write); exhaustion re-raises,
    leaving the sink UNCOMMITTED in the manifest so the next run resumes
    exactly there — the manifest IS the persistent sending queue. Every
    attempt observes a fresh counter: an Observation binds to one plan and
    reports only its first action, and a failed action also completes it
    (with the rows seen before the failure).

    ``sleep``/``writer`` are injectable for tests. ``writer(frame, path)``
    must write the frame it is handed, in full, with one action over it:
    the count is read after the writer returns and waits for that action.
    """
    do_sleep = sleep if sleep is not None else time.sleep
    do_write = writer or (lambda frame, p: frame.write.mode("overwrite").parquet(p))
    manifest = LineageManifest(manifest_path or os.path.join(base_path, "_lineage.json"))
    run_id = metrics.run_id if metrics is not None else uuid.uuid4().hex
    written: dict[str, str] = {}
    for name, df in sinks.items():
        path = os.path.join(base_path, name)
        if manifest.is_committed(name) and os.path.exists(path):
            written[name] = path  # resume: skip committed sink
            if metrics is not None:
                metrics.record_sink(name, sum(c.row_count for c in manifest.cells_for(name)), resumed=True)
            continue
        out = df.drop(*[c for c in df.columns if c.startswith("copy_")])
        t0 = time.time()
        interval = backoff_initial_s
        for attempt in range(max_retries + 1):
            observed, obs = observe_rows(out)
            try:
                do_write(observed, path)
                if metrics is not None and attempt:
                    metrics.stages[f"sink:{name}:attempts"] = attempt + 1
                break
            except Exception:
                if attempt == max_retries:
                    raise  # uncommitted in manifest -> next run resumes here
                do_sleep(interval)
                interval = min(interval * backoff_multiplier, backoff_max_s)
        rows = obs.get["rows"]
        manifest.record_sink(run_id, name, rows)
        if metrics is not None:
            metrics.stages[f"sink:{name}"] = round(time.time() - t0, 3)
            metrics.record_sink(name, rows)
        written[name] = path
    return written


# --- backfill planner --------------------------------------------------------
def input_fingerprint(part_dir: str) -> str:
    """Content fingerprint of one input partition directory: md5 over the
    sorted (relative name, size, mtime_ns) of its data files. Metadata-
    only — no data read — so planning over thousands of partitions is a
    listing, not a scan; any rewrite/append/delete changes the print."""
    import hashlib

    entries = []
    for root, _dirs, files in os.walk(part_dir):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            entries.append(f"{os.path.relpath(p, part_dir)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


class BackfillLedger:
    """Which input partitions a pipeline has processed, and the input
    fingerprint each was processed AT. Same atomic-replace JSON commit
    contract as LineageManifest."""

    def __init__(self, path: str):
        self.path = path
        self._done: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._done = json.load(f)

    def mark_processed(self, partition: str, fingerprint: str) -> None:
        self._done[partition] = fingerprint
        tmp = self.path + ".tmp"
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(self._done, f)
        os.replace(tmp, self.path)

    def processed(self) -> dict[str, str]:
        return dict(self._done)


def plan_backfill(
    input_root: str,
    ledger: BackfillLedger,
    pattern: str = "*=*",
) -> dict:
    """The work-list diff every scheduled 100 TB pipeline starts from:
    list the hive-style input partitions under `input_root`, compare
    against the ledger, and bucket them —

      todo   — never processed
      stale  — processed, but the input fingerprint CHANGED since
               (late-arriving rewrite/append → reprocess)
      done   — processed and unchanged
      orphan — in the ledger but no longer on disk (input retention
               passed it; surfaced, never silently dropped)

    Deterministic, metadata-only, idempotent: running the plan twice
    yields the same lists. Each entry carries the current fingerprint so
    the runner can mark_processed() exactly what it planned against
    (TOCTOU-safe: a partition that changes mid-run re-plans as stale)."""
    import fnmatch

    parts = sorted(
        d
        for d in os.listdir(input_root)
        if os.path.isdir(os.path.join(input_root, d)) and fnmatch.fnmatch(d, pattern)
    ) if os.path.isdir(input_root) else []
    done = ledger.processed()
    plan = {"todo": [], "stale": [], "done": [], "orphan": []}
    for p in parts:
        fp = input_fingerprint(os.path.join(input_root, p))
        entry = {"partition": p, "fingerprint": fp}
        if p not in done:
            plan["todo"].append(entry)
        elif done[p] != fp:
            plan["stale"].append(entry)
        else:
            plan["done"].append(entry)
    on_disk = set(parts)
    plan["orphan"] = [
        {"partition": p, "fingerprint": fp} for p, fp in sorted(done.items()) if p not in on_disk
    ]
    return plan
