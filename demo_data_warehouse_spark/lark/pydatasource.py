"""Pluggable paginated-API source via the Python DataSource API
(SURVEY §2.1 S5 upgraded from a driver-side shim to a real Spark source).

`lark/source.py::PaginatedSource` mirrors the reference's cursor loop
(reference dags/utils/lark.py:39-69) on the DRIVER — correct, but the
fetch is a single sequential process, exactly like the reference. This
module re-expresses the same source as a Spark 4 Python DataSource
(`spark.dataSource.register` + `spark.read.format("paged_api")`), which
is the 100 TB shape: one InputPartition per page, so page fetches run
ON EXECUTORS in parallel, scale with the cluster, retry per-partition
under Spark's task retry (the reference retries whole DAG tasks,
dags/etl/run_etl.py:22), and feed downstream operators without a
driver-side materialization.

The page "fetch" here is a deterministic arithmetic stand-in (no HTTP
egress from the sandbox; same stance as the multimodal decode stubs) —
the source plumbing (registration, schema, partition planning, per-page
iteration, option passing) is the real, tested artifact. A production
deployment replaces `_fetch_page` with the HTTP GET + cursor-token call
and nothing else changes.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SCHEMA = "record_id bigint, page_id bigint, status string, amount_cents bigint"
_STATUSES = ("active", "inactive", "pending")
# Knuth multiplicative-hash constant: spreads amounts deterministically
_MIX = 2654435761


def _fetch_page(page_id: int, page_size: int):
    """Deterministic stand-in for one cursor-paginated API page."""
    for i in range(page_size):
        rid = page_id * page_size + i
        yield (rid, page_id, _STATUSES[rid % 3], (rid * _MIX) % 100000)


class PagedApiReader(DataSourceReader):
    def __init__(self, options):
        self.n_pages = int(options.get("n_pages", 50))
        self.page_size = int(options.get("page_size", 20))

    def partitions(self):
        # one partition per API page: fetch parallelism == page count,
        # bounded by executor slots — the cursor loop, distributed
        return [InputPartition(p) for p in range(self.n_pages)]

    def read(self, partition):
        yield from _fetch_page(partition.value, self.page_size)


class PagedApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_api"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> PagedApiReader:
        return PagedApiReader(self.options)


class PagedApiStreamReader:
    """Resumable STREAMING cursor over the same paginated API — the
    reference's 5-minute incremental pull (dags/ingestion/
    lark_to_gcs.py:101 + the Airflow-Variable watermark at :43-70)
    re-expressed as a Spark streaming source: the page cursor IS the
    stream offset, persisted in the checkpoint instead of an external
    state doc, so every restart resumes exactly where the last drain
    stopped (crash-safe, no duplicate pages, no skipped pages).

    SimpleDataSourceStreamReader contract: initialOffset → {"page": 0};
    each micro-batch reads `pages_per_batch` pages and advances the
    offset; past `n_pages` the reader returns empty batches (a real
    deployment would block on the API's has_more flag instead).
    """

    def __init__(self, options):
        self.n_pages = int(options.get("n_pages", 50))
        self.page_size = int(options.get("page_size", 20))
        self.pages_per_batch = int(options.get("pages_per_batch", 1))

    def initialOffset(self):
        return {"page": 0}

    def read(self, start):
        first = int(start["page"])
        last = min(first + self.pages_per_batch, self.n_pages)
        rows = [
            row for p in range(first, last) for row in _fetch_page(p, self.page_size)
        ]
        return iter(rows), {"page": last}

    def readBetweenOffsets(self, start, end):
        # replay a committed batch (failure recovery path)
        rows = [
            row
            for p in range(int(start["page"]), int(end["page"]))
            for row in _fetch_page(p, self.page_size)
        ]
        return iter(rows)


def _simple_stream_reader_base():
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    return SimpleDataSourceStreamReader


class PagedApiStreamingDataSource(DataSource):
    """Streaming twin of PagedApiDataSource (format 'paged_api_stream')."""

    @classmethod
    def name(cls) -> str:
        return "paged_api_stream"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema):
        base = _simple_stream_reader_base()

        # PagedApiStreamReader FIRST in the MRO: the API base class
        # defines raising initialOffset/read stubs that must not win
        class _Reader(PagedApiStreamReader, base):
            def __init__(self, options):
                PagedApiStreamReader.__init__(self, options)

        return _Reader(self.options)


class SnapshotLogStreamReader:
    """Stream a SnapshotLog table as a source (the Delta streaming-
    source analog): the COMMIT VERSION is the stream offset, each new
    version's delta files become one micro-batch, and the checkpoint
    offset log guarantees every version is emitted exactly once across
    restarts.

    The Simple reader API prefetches on the driver, so the delta files
    are read with pyarrow driver-side — fine for commit-sized batches
    (the same bounded-driver posture as the API cursor above); a
    partition-granular production source implements the full
    DataSourceStreamReader with one InputPartition per file.
    """

    def __init__(self, options):
        self.root = options["root"]

    def _versions(self):
        import os

        log_dir = os.path.join(self.root, "_log")
        if not os.path.isdir(log_dir):
            return []
        return sorted(
            int(n[:-5])
            for n in os.listdir(log_dir)
            if n.endswith(".json") and not n.startswith(".")
        )

    def _delta_files(self, version):
        """Files NEW in `version` (not carried from the parent)."""
        import json
        import os

        def manifest(v):
            with open(os.path.join(self.root, "_log", f"{v:08d}.json")) as f:
                return json.load(f)

        files = set(manifest(version)["files"])
        if version > 0:
            prior = self._versions()
            parents = [v for v in prior if v < version]
            if parents:
                files -= set(manifest(parents[-1])["files"])
        return sorted(files)

    def initialOffset(self):
        return {"version": -1}

    def read(self, start):
        import os

        import pyarrow.parquet as pq

        last = int(start["version"])
        versions = [v for v in self._versions() if v > last]
        if not versions:
            return iter([]), {"version": last}
        v = versions[0]  # one commit per micro-batch
        rows = []
        for f in self._delta_files(v):
            t = pq.read_table(os.path.join(self.root, f))
            for batch in t.to_pylist():
                rows.append((v, batch["key"], batch["cents"]))
        return iter(rows), {"version": v}

    def readBetweenOffsets(self, start, end):
        out = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            it, _ = self.read({"version": v - 1})
            out.extend(it)
        return iter(out)


class SnapshotLogStreamingDataSource(DataSource):
    """Streaming source over io.SnapshotLog (format 'snapshot_stream')."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self) -> str:
        return "version bigint, key bigint, cents bigint"

    def simpleStreamReader(self, schema):
        base = _simple_stream_reader_base()

        class _Reader(SnapshotLogStreamReader, base):
            def __init__(self, options):
                SnapshotLogStreamReader.__init__(self, options)

        return _Reader(self.options)


# ---------------------------------------------------------------------------
# Python DataSource SINK: manifest-committed JSONL export
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402 (writer half of the API)
    DataSourceWriter,
    WriterCommitMessage,
)


class _JsonlCommit(WriterCommitMessage):
    """Picklable commit message: one staged file + its row count."""

    def __init__(self, staged: str, rows: int):
        self.staged = staged
        self.rows = rows


def _jsonl_manifest(path: str) -> dict:
    """The sink's committed manifest ({"files": []} before any commit)."""
    import json
    import os

    manifest = os.path.join(path, "_manifest.json")
    if not os.path.exists(manifest):
        return {"files": []}
    with open(manifest) as fh:
        return json.load(fh)


def _jsonl_publish(path: str, state: dict, messages, batch=None) -> None:
    """The one jsonl_sink commit: rename the staged files in, write the
    manifest with io.py's atomic_write (the commit point), sweep every
    file the manifest does not name (old overwrite generations,
    speculative-task losers, and files an epoch that crashed between
    its renames and its manifest write left behind — a replay stages
    under fresh uuids, so they would otherwise stay forever), then drop
    .staging. `batch` tags the new entries with a stream epoch."""
    import json
    import os
    import shutil

    from ..io import atomic_write

    for m in messages:
        if m is None:
            continue
        name = os.path.basename(m.staged)
        os.rename(m.staged, os.path.join(path, name))
        entry = {"file": name, "rows": m.rows}
        if batch is not None:
            entry["batch"] = batch
        state["files"].append(entry)
    atomic_write(os.path.join(path, "_manifest.json"), json.dumps(state))
    live = {e["file"] for e in state["files"]}
    for f in os.listdir(path):
        p = os.path.join(path, f)
        if f not in live and f != "_manifest.json" and os.path.isfile(p):
            os.remove(p)
    shutil.rmtree(os.path.join(path, ".staging"), ignore_errors=True)


class JsonlSinkWriter(DataSourceWriter):
    """Executor-side writer with a driver-side atomic commit.

    Each task streams its partition to <path>/.staging/<uuid>.jsonl and
    returns a commit message; ONLY the driver's commit() makes data
    visible, through _jsonl_publish: staged files move in, then the
    manifest is written by io.py's atomic commit write. Readers resolve
    the file list from the manifest, so a crashed/aborted write (staged
    files deleted in abort(), manifest untouched) is invisible — the
    same torn-read discipline as io.py's sinks, expressed through the
    DataSource writer contract (write/commit/abort). Speculative/retried
    tasks stage under fresh uuids; losers simply go unreferenced and are
    swept by commit().
    """

    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    # -- executor side --
    def write(self, iterator):
        import json
        import os
        import uuid

        staging = os.path.join(self.path, ".staging")
        os.makedirs(staging, exist_ok=True)
        f = os.path.join(staging, f"{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(f, "w") as out:
            for row in iterator:
                d = row.asDict()
                for k, v in d.items():
                    if hasattr(v, "isoformat"):
                        d[k] = v.isoformat()
                out.write(json.dumps(d, sort_keys=True) + "\n")
                n += 1
        return _JsonlCommit(f, n)

    # -- driver side --
    def commit(self, messages):
        # An APPEND preserves every manifest key it doesn't own: the
        # streaming writer's exactly-once replay check reads 'batches',
        # and a batch append that rewrote the manifest as {files} would
        # erase that ledger — the next epoch replay would then
        # double-publish its rows (ADVICE r6). An OVERWRITE deliberately
        # resets the whole manifest: truncation invalidates old epochs.
        state = {"files": []} if self.overwrite else _jsonl_manifest(self.path)
        _jsonl_publish(self.path, state, messages)

    def abort(self, messages):
        # sweep ALL of staging, not just the messaged files: the task
        # that failed never returned a message, but may have left a
        # partial file. Safe under the sink's single-writer discipline
        # (same assumption as io.py's staging+swap sinks). Best-effort
        # only: Spark cancels the job's other tasks ASYNCHRONOUSLY, so a
        # straggler may re-create .staging after this sweep — harmless
        # (staged files are never visible; the next commit() sweeps
        # them), so emptiness after abort is NOT part of the contract.
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, ".staging"), ignore_errors=True)


class JsonlSinkDataSource(DataSource):
    """Batch sink 'jsonl_sink' — the DSv2 write path complementing the
    paged_api / snapshot_stream read paths: the reference's export leg
    (CSV to landing + notify, dags/ingestion/lark_to_gcs.py sink side)
    as a real pluggable Spark sink with exactly-once visibility."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool):
        return JsonlSinkWriter(self.options["path"], overwrite)

    def streamWriter(self, schema, overwrite: bool):
        from pyspark.sql.datasource import DataSourceStreamWriter

        class _W(JsonlStreamSinkWriter, DataSourceStreamWriter):
            pass

        return _W(self.options["path"])


def read_jsonl_sink(spark, path: str, schema: str):
    """Manifest-resolved read of a jsonl_sink directory: only committed
    files are visible, whatever else is on disk."""
    import json
    import os

    manifest = os.path.join(path, "_manifest.json")
    with open(manifest) as fh:
        files = [os.path.join(path, e["file"]) for e in json.load(fh)["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


class JsonlStreamSinkWriter:
    """Streaming twin of JsonlSinkWriter: one commit per epoch, keyed
    by batchId in the manifest — Structured Streaming replays a failed
    epoch with the SAME batchId, and a batch already in the manifest
    commits as a no-op (staged files swept), which is exactly-once
    visibility over an at-least-once execution. Same commit step
    (_jsonl_publish) as the batch writer; only the 'batches' ledger
    differs."""

    def __init__(self, path: str):
        self.path = path
        self._batch = JsonlSinkWriter(path, overwrite=False)

    def write(self, iterator):
        return self._batch.write(iterator)

    def commit(self, messages, batchId):
        import os
        import shutil

        state = _jsonl_manifest(self.path)
        state.setdefault("batches", [])
        if batchId in state["batches"]:
            # replayed epoch: already visible, publishing again would
            # double rows — sweep the replay's staged output instead
            shutil.rmtree(os.path.join(self.path, ".staging"), ignore_errors=True)
            return
        state["batches"].append(batchId)
        _jsonl_publish(self.path, state, messages, batch=batchId)

    def abort(self, messages, batchId):
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, ".staging"), ignore_errors=True)
