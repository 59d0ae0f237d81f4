"""Miniature log-structured table format: versioned snapshot manifests
over immutable parquet files — the Iceberg/Delta metadata pattern
(snapshot isolation, time travel, stats-based file skipping, compaction)
built from first principles on plain parquet + JSON, no table-format
jars (none ship in this container — SURVEY §2.1 documents the exclusion
class).

Layout of a table directory::

    <table>/data/<uuid>.parquet      immutable data files, never rewritten
    <table>/_log/v00001.json         one manifest per committed version

Each manifest is a FULL snapshot (the Iceberg style): the complete list
of live data files at that version, each with per-file column stats
(min/max harvested from the parquet FOOTER at commit time — the same
metadata plane q_sink_rowgroup_stats_audit audits). That buys four
capabilities a raw parquet directory cannot offer:

* **time travel** — ``read_version(v)`` plans from v's manifest, so an
  as-of read is reproducible forever regardless of later appends;
* **snapshot isolation** — readers never see a half-written commit: data
  files land first under uuid names, the manifest rename is the atomic
  commit point;
* **file skipping** — ``prune_files`` intersects a predicate range with
  each file's [min, max] WITHOUT opening data files: metadata-plane
  planning, O(#files) on kilobyte manifests. At 100 TB this is the
  difference between listing+reading everything and reading only the
  few files a time-range predicate touches (manifests themselves would
  be a distributed scan at production file counts);
* **compaction** — ``commit_replace`` publishes a new live set (the
  OPTIMIZE shape) while every older version stays readable, because
  superseded files are never deleted (vacuum would be a separate,
  explicitly destructive operation);
* **optimistic concurrency** — the commit point is create-exclusive
  (``os.link``), so two writers racing the same version number cannot
  both win: the loser gets ``CommitConflictError`` and retries against
  the advanced snapshot (automatic for appends, which commute; an
  ``expected_base`` pin or a losing REPLACE surfaces the conflict);
* **stage concurrently, publish in order** — a commit's cost is its
  Spark write job, not its metadata, so ``commit_appends`` lands the
  data files of a batch of independent appends as CONCURRENT jobs (one
  per frame, on min(frames, defaultParallelism) threads that inherit
  the caller's job group and tags), then publishes one version per
  frame serially, in input order, through the same OCC loop as
  ``commit_append`` — versions, ops, file lists, stats, seqs and row
  ids equal the serial loop's. Validation runs before anything stages,
  and a raise anywhere unlinks every staged file no manifest
  references. ``commit_update_mor`` stages its replacement rows and
  its position vector the same way;
* **additive schema evolution** — every manifest records the committed
  table schema; ``read_version`` pins it on the scan, so files written
  before a column existed null-fill it (reader-schema resolution, the
  Avro analogue) without an O(#files) mergeSchema footer sweep;
* **one commit core; snapshot fields carry forward unless a commit
  overrides or drops them** — every commit kind runs ``_commit`` (read
  base, plan, publish, retry on a lost race where the kind allows it)
  and states only the fields it changes. The snapshot fields (schema,
  deletes, partition_spec, eq_deletes, defaults, constraints) and the
  live file list come from the base manifest otherwise. The drops:

  - ``commit_replace`` drops deletes, eq_deletes, defaults and
    partition_spec (the compaction feed applied them; its files are not
    partition-aligned);
  - ``compact_with_lineage`` drops the same four, for the same reasons;
  - ``commit_optimize_binpack`` drops the position vectors that only
    pointed into rewritten files;
  - ``evolve_partition_spec(None)`` and dropping the last constraint
    remove those fields;
  - ``rollback`` restores every field of the target version except
    constraints; ``commit_rewrite`` refuses while deletes exist.

  Constraints gate writes; they are not data, so every other commit
  kind keeps them.

Readers pass the selected file list straight to ``spark.read.parquet``,
so Catalyst still applies row-group pushdown INSIDE surviving files —
manifest pruning composes with, not replaces, PushedFilters.

Reference repo publishes no code (/root/reference/README.md:1-2); the
surface follows public Iceberg/Delta-log semantics.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import glob
import json
import math
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the race for its version number: the
    manifest file already exists, meaning another writer (or a replayed
    micro-batch) published that version first. The loser must re-read
    ``current_version`` and retry (optimistic concurrency) or drop the
    duplicate (idempotent replay)."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_log")


def _data_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "data")


def _deletes_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_deletes")


def _json_stat(v):
    """Encode one footer min/max as a native JSON value whose comparison
    semantics prune_files can honor TYPED (int/float stay numbers —
    lexicographic "9" > "11" was a silent-row-drop bug for numerics):

    * int/float/str pass through (ISO date/timestamp strings order
      correctly as strings);
    * date/datetime -> isoformat string with a SPACE separator
      (string-order-safe, and byte-compatible with the
      "YYYY-MM-DD HH:MM:SS" bounds callers pass — a 'T' separator
      would wrongly skip on same-day boundaries, since
      'T' > ' ' > any digit at the separator position);
    * bytes -> utf-8 decode, or None (no stats) if not decodable;
    * Decimal -> [nextafter-down, nextafter-up] float widening, applied
      by the caller per bound side — float() alone can round a true min
      UP across a predicate bound and wrongly skip a file;
    * anything else -> None (conservative: file cannot be skipped).
    Returns (value, kind) where kind is "lo"/"hi"-agnostic except for
    Decimal, which returns the raw Decimal for the caller to widen.
    """
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, decimal.Decimal):
        return v  # caller widens per side
    return None


def _widen(v, side: str):
    """Decimal -> conservatively widened float (min rounds down, max
    rounds up) so float precision loss can never cause a wrong skip."""
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return math.nextafter(f, -math.inf if side == "lo" else math.inf)
    return v


def _file_stats_from_meta(md, stat_cols: list[str]) -> dict:
    """Per-file min/max for stat_cols from a parsed parquet footer
    (FileMetaData), stored as native JSON types (numbers stay numbers;
    dates/timestamps as ISO strings) so prune_files compares typed
    values, never str() forms."""
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for i in range(rgm.num_columns):
            col = rgm.column(i)
            name = col.path_in_schema
            if name not in stat_cols:
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                continue
            lo, hi = s.min, s.max
            ent = out.setdefault(name, [lo, hi])
            ent[0] = min(ent[0], lo)
            ent[1] = max(ent[1], hi)
    stats = {}
    for k, (lo, hi) in out.items():
        jlo = _json_stat(lo)
        jhi = _json_stat(hi)
        if jlo is None or jhi is None:
            continue  # unencodable -> omit stats -> file never skipped
        stats[k] = [_widen(jlo, "lo"), _widen(jhi, "hi")]
    return stats


def current_version(table_dir: str) -> int:
    logs = sorted(glob.glob(os.path.join(_log_dir(table_dir), "v*.json")))
    return int(os.path.basename(logs[-1])[1:-5]) if logs else 0


#: Delta-manifest snapshot interval (the Iceberg manifest-list shape,
#: VERDICT r14 item 3): a commit whose parent is readable stores only its
#: FILE-LIST CHANGES (add_files / remove_paths) against the parent — the
#: metadata written per commit is O(changed files), not O(total live
#: files), which is the difference between a kilobyte and a
#: hundred-megabyte commit at 10^5-10^6 files. Every
#: ``SNAPSHOT_INTERVAL``-deep chain re-materializes a full snapshot so a
#: read folds at most that many segments (read cost stays O(live files +
#: recent changes), same class as before). Version 1 and any commit whose
#: parent is unreadable always write full.
SNAPSHOT_INTERVAL = 16

#: storage-form bookkeeping keys a delta manifest carries on top of the
#: logical manifest fields; stripped during reconstruction
_DELTA_KEYS = ("format", "base", "delta_depth", "add_files", "remove_paths")

#: snapshot-level fields a commit carries forward from its base manifest
#: unless its plan overrides or drops them (see ``_commit``)
_SNAPSHOT_FIELDS = (
    "schema", "deletes", "partition_spec", "eq_deletes", "defaults", "constraints"
)


def _read_raw(table_dir: str, version: int) -> dict:
    """One manifest file, AS STORED — full snapshot or delta segment."""
    path = os.path.join(_log_dir(table_dir), f"v{version:05d}.json")
    with open(path) as fh:
        return json.load(fh)


def read_manifest(table_dir: str, version: int) -> dict:
    """The LOGICAL manifest at ``version``: always the full-snapshot
    shape every consumer was written against ("files" materialized),
    regardless of whether the version is stored full or as a delta
    segment. Delta reconstruction walks parent pointers to the nearest
    full snapshot (bounded by SNAPSHOT_INTERVAL) and folds each
    segment's add/remove into the file list; all snapshot-level fields
    (schema, defaults, constraints, deletes, ...) come from the
    requested version's own record verbatim — every commit stores them
    in full because they are O(columns + masks), not O(files)."""
    raw = _read_raw(table_dir, version)
    if raw.get("format") != "delta":
        return raw
    chain = [raw]
    base_v = raw["base"]
    while True:
        seg = _read_raw(table_dir, base_v)
        if seg.get("format") != "delta":
            break
        chain.append(seg)
        base_v = seg["base"]
    files = list(seg["files"])
    for delta in reversed(chain):  # oldest segment first
        removed = set(delta.get("remove_paths", ()))
        added = delta.get("add_files", [])
        replaced = {e["path"] for e in added}
        files = [
            f
            for f in files
            if f["path"] not in removed and f["path"] not in replaced
        ] + list(added)
    out = {k: v for k, v in chain[0].items() if k not in _DELTA_KEYS}
    out["files"] = files
    return out


def read_manifest_meta(table_dir: str, version: int) -> dict:
    """The manifest's SNAPSHOT-LEVEL fields only (schema, defaults,
    constraints, deletes, partition_spec, next_row_id, op, ts, ...) —
    everything EXCEPT the O(files) list, without reconstructing it.
    This is what makes appends O(changed files): validating a commit
    needs the prev schema/constraints and the row-id high-water mark,
    none of which require folding the file list."""
    raw = _read_raw(table_dir, version)
    return {
        k: v for k, v in raw.items() if k not in _DELTA_KEYS and k != "files"
    }


#: Bloom sizing: ~9.6 bits/row + 7 probes ≈ 1% false-positive rate (the
#: standard m/n=9.6, k=7 point on the bloom curve).
_BLOOM_BITS_PER_ROW = 10
_BLOOM_K = 7


def _splitmix64(v):
    """Vectorized splitmix64 finalizer (public-domain mixing constants,
    Steele et al. 2014) — numpy uint64 arithmetic wraps mod 2^64, which
    is exactly the algorithm's arithmetic."""
    import numpy as np

    v = v.astype(np.uint64, copy=True)
    v += np.uint64(0x9E3779B97F4A7C15)
    v ^= v >> np.uint64(30)
    v *= np.uint64(0xBF58476D1CE4E5B9)
    v ^= v >> np.uint64(27)
    v *= np.uint64(0x94D049BB133111EB)
    v ^= v >> np.uint64(31)
    return v


def _bloom_positions(vals, m_bits: int):
    """k bit positions per value via double hashing g_i = h1 + i*h2
    (Kirsch & Mitzenmacher 2006: two independent hashes give k
    asymptotically independent probes)."""
    import numpy as np

    h1 = _splitmix64(vals)
    h2 = _splitmix64(vals ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    m = np.uint64(m_bits)
    return [
        ((h1 + np.uint64(i) * h2) % m).astype(np.int64)
        for i in range(_BLOOM_K)
    ]


def _file_bloom(path: str, col: str) -> dict | None:
    """Per-file bloom filter over an integer column, built from the
    staged parquet with one vectorized numpy pass and stored base64 in
    the manifest. Returns None (no filter -> file never skipped) for
    non-integer columns."""
    import base64

    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=[col])
    arr = tbl.column(0).combine_chunks()
    try:
        vals = arr.to_numpy(zero_copy_only=False)
    except Exception:
        return None
    if vals.dtype.kind not in "iu":
        return None
    vals = vals.astype(np.uint64)
    m_bits = max(64, int(len(vals)) * _BLOOM_BITS_PER_ROW)
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    for pos in _bloom_positions(vals, m_bits):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return {
        "m": m_bits,
        "k": _BLOOM_K,
        "bits": base64.b64encode(bits.tobytes()).decode("ascii"),
    }


def _bloom_maybe_contains(bloom: dict, value: int) -> bool:
    import base64

    import numpy as np

    bits = np.frombuffer(base64.b64decode(bloom["bits"]), dtype=np.uint8)
    # Mask to 64 bits BEFORE the uint64 construction: the build path
    # wraps signed ints two's-complement via astype(uint64), but
    # np.array([negative], dtype=np.uint64) raises OverflowError on
    # NumPy >= 2 — probe and build must hash identically (ADVICE r12).
    vals = np.array([value & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)
    for pos in _bloom_positions(vals, int(bloom["m"])):
        p = int(pos[0])
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _stage_files(
    df: DataFrame,
    table_dir: str,
    stat_cols: list[str],
    bloom_cols: list[str] | None = None,
    ptransform: str | None = None,
) -> list[dict]:
    """Land df as immutable uuid-named data files (invisible to every
    manifest until a commit references them); returns their manifest
    entries with footer-harvested stats, the footer row count (powers
    metadata-only COUNT/MIN/MAX), and optional per-file bloom filters
    for point-lookup skipping.

    With ``ptransform``, df carries its partition value in a ``__pval``
    column: the write lands one file set per value (the value lives in
    the directory name, never in the data files), and each entry
    records its ``partition`` value and the ``ptransform`` it was
    written with."""
    import pyarrow.parquet as pq

    os.makedirs(_data_dir(table_dir), exist_ok=True)
    staging = os.path.join(table_dir, f"_staging_{uuid.uuid4().hex[:8]}")
    entries = []
    try:
        writer = df.write.mode("overwrite")
        pattern = "*.parquet"
        if ptransform is not None:
            writer, pattern = writer.partitionBy("__pval"), "__pval=*/*.parquet"
        writer.parquet(staging)
        # order by (directory, name): files of '__pval=1' before '__pval=10'
        for f in sorted(glob.glob(os.path.join(staging, pattern)), key=os.path.split):
            # ONE footer parse per file (round-15: this loop used to open
            # the footer four times — zero-row check, rows, schema, stats —
            # a 4× metadata-read tax on every commit of every manifest key).
            pf = pq.ParquetFile(f)
            md = pf.metadata
            # Spark emits zero-row part files for empty partitions; a real
            # format never registers them (they carry no stats and would
            # defeat every files_with_stats == n_files exactness check).
            if md.num_rows == 0:
                continue
            dest = os.path.join(_data_dir(table_dir), f"{uuid.uuid4().hex}.parquet")
            schema_names = pf.schema_arrow.names
            pf.close()
            os.rename(f, dest)
            entry = {
                "path": dest,
                "rows": md.num_rows,
                "stats": _file_stats_from_meta(md, stat_cols),
            }
            if ptransform is not None:
                # the file's OWN transform rides with it: a later spec
                # change must not reinterpret old partition values
                pdir = os.path.basename(os.path.dirname(f))
                entry["partition"] = pdir.split("=", 1)[1]
                entry["ptransform"] = ptransform
            entries.append(entry)
            if "__row_id" in schema_names:
                # lineage-materializing rewrite (compact_with_lineage):
                # row ids live IN the file; no fresh allocation for it
                entry["lineage_in_file"] = True
            blooms = {
                c: b
                for c in (bloom_cols or [])
                if (b := _file_bloom(dest, c)) is not None
            }
            if blooms:
                entry["bloom"] = blooms
    except BaseException:
        _unlink_entries(entries)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)  # _SUCCESS/.crc leftovers
    return entries


def _stage_deletes(df: DataFrame, table_dir: str) -> list[dict]:
    """Land df — position identities (file_path, row_index) or one
    column of equality-delete values — as one delete parquet under
    ``_deletes/`` (invisible until a commit references it); returns its
    manifest entries."""
    import pyarrow.parquet as pq

    os.makedirs(_deletes_dir(table_dir), exist_ok=True)
    staging = os.path.join(table_dir, f"_staging_{uuid.uuid4().hex[:8]}")
    entries = []
    try:
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        for f in sorted(glob.glob(os.path.join(staging, "*.parquet"))):
            n = pq.ParquetFile(f).metadata.num_rows
            if n == 0:
                continue
            dest = os.path.join(
                _deletes_dir(table_dir), f"{uuid.uuid4().hex}.parquet"
            )
            os.rename(f, dest)
            entries.append({"path": dest, "rows": n})
    except BaseException:
        _unlink_entries(entries)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return entries


def _unlink_entries(entries: list[dict]) -> None:
    """Delete staged files that no manifest references (best effort)."""
    for e in entries:
        try:
            os.unlink(e["path"])
        except OSError:
            pass


def _run_staging_jobs(spark: SparkSession, tasks: list) -> list[list[dict]]:
    """Run independent staging writes as CONCURRENT Spark jobs and
    return their manifest entries in input order.

    Each write is its own Spark job, and a small staging job leaves most
    cores idle while the caller waits on it, so independent writes share
    the scheduler instead of queueing. Every thread runs under the
    caller's job group, description and tags
    (``inheritable_thread_target``), so each job stays attributed to the
    caller. The pool joins before anything is decided: if any task
    raised, the files of every task that did land are unlinked and the
    first error in input order propagates.

    Without pinned threads (``PYSPARK_PIN_THREAD=false``) Python threads
    share JVM threads and their job properties, so the tasks run one
    after another in the caller's thread instead."""
    from concurrent.futures import ThreadPoolExecutor

    from py4j.clientserver import ClientServer
    from pyspark import SparkContext, inheritable_thread_target

    if len(tasks) == 1 or not isinstance(SparkContext._gateway, ClientServer):
        results = []
        try:
            for task in tasks:
                results.append(task())
        except BaseException:
            for r in results:
                _unlink_entries(r)
            raise
        return results

    futures = []
    workers = min(len(tasks), spark.sparkContext.defaultParallelism)
    try:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for task in tasks:
                # wrapped HERE, on the caller's thread: the wrapper
                # captures the properties and tags when it is created
                futures.append(
                    pool.submit(inheritable_thread_target(spark)(task))
                )
        # the pool has joined: every future is settled
        return [f.result() for f in futures]
    except BaseException:
        for f in futures:
            if f.done() and not f.cancelled() and f.exception() is None:
                _unlink_entries(f.result())
        raise


def _publish(
    table_dir: str,
    version: int,
    op: str,
    files: list[dict] | None,
    schema: list[list[str]] | None = None,
    deletes: list[dict] | None = None,
    partition_spec: dict | None = None,
    eq_deletes: list[dict] | None = None,
    defaults: dict | None = None,
    parent: int | None = None,
    constraints: dict | None = None,
    files_add: list[dict] | None = None,
    force_full: bool = False,
) -> int:
    """Atomic CREATE-EXCLUSIVE commit point: write the manifest to a tmp
    name, then ``os.link`` it to its final version name. link(2) fails
    with EEXIST if the version was already published — a plain rename
    would silently REPLACE it, letting two racing writers both "win" the
    same version and orphan one side's data files. Losers get
    CommitConflictError and must retry against the advanced version.

    ``files_add`` is the APPEND FAST PATH (mutually exclusive with
    ``files``): the caller asserts the new snapshot is exactly the DAG
    parent's live set plus these entries — _publish then stamps and
    writes a delta segment directly, touching O(new entries) metadata
    and never folding the parent's file list (the whole point of the
    delta tier). Every SNAPSHOT_INTERVAL-deep chain still materializes
    a full snapshot, amortizing the O(live) read/write to 1/interval
    per commit. A ``files`` commit is stored as a delta when
    ``_delta_segment`` can (never with ``force_full``). Both forms go
    through the same record builder.

    Commit kinds do not call this directly: ``_commit`` carries the
    base manifest's snapshot fields into these keywords."""
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    # branch commits chain from a REF head, not the newest id — the
    # version sequence is an ID ALLOCATOR, the parent pointers are the
    # history DAG (manifests without a parent are linear: version - 1)
    parent_v = version - 1 if parent is None else parent
    segment = None  # (delta_depth, add_files, remove_paths) when stored as a delta
    if files_add is not None:
        if files is not None:
            raise ValueError("pass files or files_add, not both")
        files = list(files_add)  # no parent: a full snapshot by definition
        if parent_v >= 1:
            parent_raw = _read_raw(table_dir, parent_v)  # missing = caller bug
            depth = _depth_after(parent_raw)
            if depth >= SNAPSHOT_INTERVAL:
                files = read_manifest(table_dir, parent_v)["files"] + files
            else:
                # the fast path stamps only the new entries, allocating
                # row ids from the parent's high-water mark
                files, alloc = _stamp(
                    files, version, int(parent_raw.get("next_row_id", 0))
                )
                segment = (depth, files, [])
    if segment is None:
        # ROW LINEAGE (Iceberg v3): every data file gets a first_row_id
        # from a table-global monotone allocator; a row's stable id is
        # first_row_id + its position (or the materialized __row_id
        # column after a lineage-preserving compaction). The newest
        # manifest holds the global high-water mark — publishes are
        # serialized by the create-exclusive version ids, so reading
        # version-1 suffices.
        alloc = 0
        if version > 1:
            try:
                alloc = int(
                    read_manifest_meta(table_dir, version - 1).get("next_row_id", 0)
                )
            except FileNotFoundError:
                pass  # vacuumed beyond retention: fall back to the derived max
        alloc = max(
            [alloc]
            + [
                int(f.get("first_row_id", 0)) + int(f.get("rows", 0))
                for f in files
                if "first_row_id" in f
            ]
        )
        files, alloc = _stamp(files, version, alloc)
        if not force_full:
            segment = _delta_segment(table_dir, version, parent_v, files)
    # ONE record for both storage forms. Header first: the storage-form
    # keys sit inside the first bytes _sniff_delta reads, and the
    # O(files) lists come last. The wall-clock ts powers AS OF TIMESTAMP
    # resolution (version_at_timestamp); versions stay the canonical
    # offset.
    record = {"version": version, "op": op, "ts": time.time(), "next_row_id": alloc}
    if segment is not None:
        record.update(format="delta", base=parent_v, delta_depth=segment[0])
    fields = {
        "schema": schema,
        "deletes": deletes or None,
        "partition_spec": partition_spec,
        "eq_deletes": _stamp(eq_deletes, version)[0] if eq_deletes else None,
        "defaults": defaults or None,
        "constraints": constraints or None,
        "parent": parent,
    }
    record.update((k, v) for k, v in fields.items() if v is not None)
    if segment is None:
        record["files"] = files
    else:
        record.update(add_files=segment[1], remove_paths=segment[2])
    return _write_record(table_dir, version, record)


def _stamp(entries: list[dict], version: int, alloc: int | None = None):
    """Stamp entries committed at ``version``; returns (entries, alloc).

    DATA SEQUENCE NUMBERS (Iceberg v2): every file/eq-delete entry gets
    the version that first committed it, at the single commit point so
    no writer can forget. Carried-forward entries keep their original
    seq; equality deletes then apply only to files with a STRICTLY
    LOWER seq (commit_delete_equality masks what existed when it
    committed — a row re-inserted later is visible again, not
    swallowed by a standing mask). With ``alloc``, data files without
    a row-id range (and without in-file lineage) get one allocated
    from it."""
    out = []
    for f in entries:
        f = f if "seq" in f else {**f, "seq": version}
        if alloc is not None and "first_row_id" not in f and not f.get("lineage_in_file"):
            f = {**f, "first_row_id": alloc}
            alloc += int(f.get("rows", 0))
        out.append(f)
    return out, alloc


def _depth_after(parent_raw: dict) -> int:
    """Delta-chain depth of a segment stored against ``parent_raw``."""
    if parent_raw.get("format") == "delta":
        return parent_raw.get("delta_depth", 0) + 1
    return 1


def _write_record(table_dir: str, version: int, record: dict) -> int:
    """The atomic commit point shared by both storage forms: tmp write
    + create-exclusive os.link (EEXIST = lost the version race)."""
    tmp = os.path.join(
        _log_dir(table_dir), f".v{version:05d}.{uuid.uuid4().hex[:8]}.tmp"
    )
    with open(tmp, "w") as fh:
        json.dump(record, fh)
    final = os.path.join(_log_dir(table_dir), f"v{version:05d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise CommitConflictError(
            f"version {version} already committed in {table_dir}"
        ) from exc
    finally:
        os.unlink(tmp)
    return version


def _head(table_dir: str, empty: str | None = None) -> int:
    """The newest version; raises ValueError(``empty``) on an empty
    table when ``empty`` is given."""
    prev = current_version(table_dir)
    if not prev and empty:
        raise ValueError(empty)
    return prev


def _commit(
    table_dir: str,
    op: str,
    plan,
    *,
    retry: bool = False,
    base_files: bool = True,
    expected_base: int | None = None,
    empty: str | None = None,
    ref: str | None = None,
    staged=(),
    force_full: bool = False,
) -> int:
    """The commit protocol every commit kind runs: read the base
    manifest, carry its snapshot fields (and its live file list)
    forward, apply ``plan(base, version)``, publish ``version``.

    ``plan`` returns only what the commit changes: a snapshot field set
    to None is dropped, and "files" or "files_add" (an append onto the
    live set; needs ``base_files=False``) replace the live list. The
    base is the head, or the snapshot ``ref`` points at — a branch
    commit takes the next free id, records the ref head as its parent
    and moves the ref. ``base_files=False`` reads only the snapshot
    fields, never the O(live) file list. ``expected_base`` pins the
    base (CommitConflictError when the table moved past it).

    A lost version race re-reads the base and re-plans only with
    ``retry`` and no pin. Any raise unlinks ``staged``, the data files
    no manifest references yet."""
    try:
        while True:
            prev = get_ref(table_dir, ref) if ref else _head(table_dir, empty)
            if expected_base is not None and prev != expected_base:
                raise CommitConflictError(
                    f"expected base version {expected_base}, table is at {prev}"
                )
            read = read_manifest if base_files else read_manifest_meta
            base = read(table_dir, prev) if prev else {}
            version = (current_version(table_dir) if ref else prev) + 1
            fields = {k: base.get(k) for k in ("files", *_SNAPSHOT_FIELDS)}
            fields.update(plan(base, version))
            try:
                v = _publish(
                    table_dir, version, op, fields.pop("files"),
                    parent=prev if ref else None, force_full=force_full,
                    **fields,
                )
            except CommitConflictError:
                if retry and expected_base is None:
                    continue
                raise
            if ref:
                set_ref(table_dir, ref, v)
            return v
    except BaseException:
        _unlink_entries(staged)
        raise


def _delta_segment(
    table_dir: str, version: int, parent_v: int, files: list[dict]
) -> tuple[int, list[dict], list[str]] | None:
    """Choose the STORAGE form for a logical manifest: a delta segment
    (depth, add_files, remove_paths) against the DAG parent when that
    is readable and the chain depth stays under SNAPSHOT_INTERVAL, else
    None (store the full snapshot). The record carries every
    snapshot-level field verbatim either way (they're small and NOT
    inherited — an empty "constraints" must mean "no constraints", not
    "ask the parent"); the segment replaces only the O(files) "files"
    list. A reconstruction self-check guards the canonical
    retained-then-added ordering: if folding the delta would not
    reproduce the intended list exactly, the commit falls back to a
    full snapshot rather than publish a lossy segment."""
    if version <= 1 or parent_v < 1:
        return None
    try:
        depth = _depth_after(_read_raw(table_dir, parent_v))
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    if depth >= SNAPSHOT_INTERVAL:
        return None
    try:
        parent_files = read_manifest(table_dir, parent_v)["files"]
    except (FileNotFoundError, KeyError, json.JSONDecodeError):
        return None
    base_by_path = {f["path"]: f for f in parent_files}
    new_paths = {f["path"] for f in files}
    add = [
        f
        for f in files
        if f["path"] not in base_by_path or base_by_path[f["path"]] != f
    ]
    remove = [p for p in base_by_path if p not in new_paths]
    # self-check: fold must reproduce the intended list EXACTLY
    # (including order) — otherwise store full
    removed, replaced = set(remove), {e["path"] for e in add}
    folded = [
        f
        for f in parent_files
        if f["path"] not in removed and f["path"] not in replaced
    ] + add
    if folded != files:
        return None
    return depth, add, remove


def _schema_entry(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


#: integer promotion lattice for TYPE WIDENING (Iceberg v3): a reader
#: schema may be any type RIGHT of a file's written type in its chain.
_INT_WIDTH_ORDER = ["tinyint", "smallint", "int", "bigint"]


def _is_widening(narrow: str, wide: str) -> bool:
    """True iff ``narrow -> wide`` is a SAFE reader-side promotion
    (every narrow value is exactly representable as wide, and the
    parquet scan upcasts natively): integer chain widening,
    float -> double, and decimal precision growth at the same scale."""
    if narrow == wide:
        return False
    if narrow in _INT_WIDTH_ORDER and wide in _INT_WIDTH_ORDER:
        return _INT_WIDTH_ORDER.index(wide) > _INT_WIDTH_ORDER.index(narrow)
    if narrow == "float" and wide == "double":
        return True
    if narrow.startswith("decimal(") and wide.startswith("decimal("):
        try:
            pn, sn = (int(x) for x in narrow[8:-1].split(","))
            pw, sw = (int(x) for x in wide[8:-1].split(","))
        except ValueError:
            return False
        return sn == sw and pw > pn
    return False


def _merged_schema(
    prev_schema: list[list[str]] | None, df: DataFrame
) -> list[list[str]]:
    """Additive schema evolution: the committed schema is the prior
    table schema plus any NEW columns df introduces, in prior-first
    order. A column present in both must keep its type — except that a
    writer may supply a NARROWER type than the declared one after a
    ``commit_widen_column`` (the scan upcasts the narrow file natively,
    so accepting it loses nothing); any other type change, and renames,
    are rejected (rename is indistinguishable from drop+add on a
    columnar file format without field IDs). Widening the DECLARED
    type is never implicit — that is ``commit_widen_column``'s job."""
    new = _schema_entry(df)
    if not prev_schema:
        return new
    prev_types = {n: t for n, t in prev_schema}
    for n, t in new:
        if n in prev_types and prev_types[n] != t:
            if _is_widening(t, prev_types[n]):
                continue  # narrower write into a widened column: safe
            raise ValueError(
                f"schema evolution: column {n!r} type change "
                f"{prev_types[n]} -> {t} is not supported (add-only; "
                f"explicit widening via commit_widen_column)"
            )
    return [list(e) for e in prev_schema] + [
        [n, t] for n, t in new if n not in prev_types
    ]


def table_schema(table_dir: str, version: int | None = None) -> list[list[str]]:
    v = current_version(table_dir) if version is None else version
    return read_manifest(table_dir, v).get("schema") or []


def commit_append(
    df: DataFrame,
    table_dir: str,
    stat_cols: list[str],
    op: str = "append",
    expected_base: int | None = None,
    retry_conflicts: bool = True,
    bloom_cols: list[str] | None = None,
) -> int:
    """Append commit: new manifest = previous live set + df's files.

    Optimistic concurrency: ``expected_base`` pins the version the
    writer planned against — if another writer advanced the table
    first, CommitConflictError (no blind clobber). Without a pin,
    version-number races are retried by default (appends commute: the
    staged files are re-merged onto the advanced live set — the Delta
    "win the next version" protocol for non-conflicting commits).

    Staging discipline (ADVICE r12): the base pin and the schema merge
    are validated BEFORE any parquet lands in data/, and a raise out of
    the commit deletes whatever was staged — a rejected commit must not
    orphan unreferenced data files (an external retry would otherwise
    stage a second copy and only a vacuum would reclaim the first).

    The one-frame call of ``commit_appends``."""
    return commit_appends(
        [df], table_dir, stat_cols, [op], expected_base, retry_conflicts,
        bloom_cols,
    )[0]


def commit_appends(
    frames: list[DataFrame],
    table_dir: str,
    stat_cols: list[str],
    ops: list[str] | None = None,
    expected_base: int | None = None,
    retry_conflicts: bool = True,
    bloom_cols: list[str] | None = None,
) -> list[int]:
    """A batch of independent appends: one version per frame, published
    in input order with ``ops[i]`` (default "append"); returns the
    versions. The manifests equal those of ``commit_append`` called on
    each frame in turn — only the staging overlaps: every frame's data
    files land as its own concurrent Spark job before the first publish.

    Every frame is validated (chained schema merge, constraints) before
    anything stages. ``expected_base`` pins the base of the FIRST
    publish; frame i then publishes on ``expected_base + i``. A raise
    anywhere — validation, a staging job, a lost pin — unlinks every
    staged file not yet published; versions published before the raise
    stay, exactly as in the serial loop."""
    ops = list(ops) if ops is not None else ["append"] * len(frames)
    if len(ops) != len(frames):
        raise ValueError(f"{len(frames)} frames but {len(ops)} ops")
    if not frames:
        return []
    prev0 = current_version(table_dir)
    if expected_base is not None and prev0 != expected_base:
        raise CommitConflictError(
            f"expected base version {expected_base}, table is at {prev0}"
        )
    prev_meta0 = read_manifest_meta(table_dir, prev0) if prev0 else {}
    schema = prev_meta0.get("schema")
    for df in frames:  # reject before staging
        schema = _merged_schema(schema, df)
        _validate_constraints(df, prev_meta0.get("constraints") or {})
    staged = _run_staging_jobs(
        frames[0].sparkSession,
        [
            functools.partial(_stage_files, df, table_dir, stat_cols, bloom_cols)
            for df in frames
        ],
    )
    versions = []
    try:
        for i, (df, new, op) in enumerate(zip(frames, staged, ops)):
            # an append re-merges onto an advanced snapshot after a lost
            # race; everything else carries forward (appended files are
            # unaffected by existing deletes, and files without a
            # partition value are simply never partition-skipped).
            # Metadata-only base: files_add writes a delta segment with
            # O(new files) work, never folding the live list.
            versions.append(_commit(
                table_dir, op,
                lambda m, v: {
                    "schema": _merged_schema(m.get("schema"), df),
                    "files_add": new,
                },
                retry=retry_conflicts, base_files=False,
                expected_base=None if expected_base is None else expected_base + i,
            ))
    except BaseException:
        for new in staged[len(versions):]:  # staged, never referenced
            _unlink_entries(new)
        raise
    return versions


def commit_replace(
    df: DataFrame, table_dir: str, stat_cols: list[str], op: str = "compact"
) -> int:
    """REPLACE commit (the OPTIMIZE/compaction shape): the new manifest
    lists ONLY df's freshly landed files — the previous live set is
    superseded, NOT deleted, so every older version stays readable
    (time travel across compaction). No intermediate manifest is ever
    visible: files stage first, one create-exclusive link publishes the
    new set. A version race is NOT retried: a replace that lost to a
    concurrent append would silently drop the appended rows, so the
    loser must re-plan from the new snapshot (real formats abort
    OPTIMIZE the same way).

    Delete vectors do NOT carry across a replace: the superseded files
    are the only thing the position deletes reference, so the new
    manifest starts delete-free — which is only correct if the caller
    compacted from a deletes-APPLIED read (``read_version``, the
    default). Compacting from raw file reads would resurrect deleted
    rows; ``read_version`` is the documented source for compaction
    input exactly for this reason. Column defaults drop for the same
    reason (the read materialized them). A declared partition spec is
    also dropped (the compacted files are not partition-aligned; stats
    pruning still applies). CHECK constraints stay: they gate writes."""
    new = _stage_files(df, table_dir, stat_cols)
    return _commit(
        table_dir, op,
        lambda m, v: {
            "files": new,
            "schema": _merged_schema(m.get("schema"), df),
            **dict.fromkeys(("deletes", "eq_deletes", "defaults", "partition_spec")),
        },
        base_files=False, staged=new,
    )


def _base_reader(spark: SparkSession, manifest: dict):
    files = [f["path"] for f in manifest["files"]]
    schema = manifest.get("schema")
    reader = spark.read
    if schema:
        reader = reader.schema(", ".join(f"`{n}` {t}" for n, t in schema))
    return reader.parquet(*files)


def _apply_delete_vectors(
    spark: SparkSession, df: DataFrame, deletes: list[dict]
) -> DataFrame:
    """Mask position-deleted rows: broadcast anti-join the (small,
    sparse-by-design) delete vectors against the scan's (file_path,
    row_index) identity from the parquet reader's ``_metadata`` struct.
    At 100 TB the delete side is proportional to ROWS DELETED, not
    table size, so the broadcast holds exactly when merge-on-read is
    the right trade (sparse deletes); a delete too big to broadcast is
    the signal to compact (commit_replace folds the mask in and starts
    delete-free)."""
    from pyspark.sql import functions as F

    cols = df.columns
    pos = df.select(
        "*",
        F.col("_metadata.file_path").alias("__dv_fp"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )
    dv = spark.read.parquet(*[d["path"] for d in deletes]).select(
        F.col("file_path").alias("__del_fp"),
        F.col("row_index").alias("__del_ri"),
    )
    return pos.join(
        F.broadcast(dv),
        (pos["__dv_fp"] == dv["__del_fp"])
        & (pos["__dv_ri"] == dv["__del_ri"]),
        "left_anti",
    ).select(*cols)


def _norm_fp(col):
    """Normalize Spark's ``_metadata.file_path`` URI ('file:/abs' or
    'file:///abs') to the plain filesystem path manifests store."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:/+", "/")


def _apply_equality_deletes(
    spark: SparkSession, df: DataFrame, manifest: dict, fp_col: str
) -> DataFrame:
    """Mask rows matching any live equality delete, SCOPED BY DATA
    SEQUENCE NUMBER (Iceberg v2): an equality vector committed at seq
    ``s`` applies only to rows from files with seq < s — rows appended
    AFTER the delete are visible, not swallowed by a standing mask
    (ADVICE r13: a row re-inserted post-delete must reappear without
    waiting for compaction). Legacy entries without a seq fall back to
    the old standing-mask behavior (file seq -> 0, delete seq ->
    unscoped).

    One broadcast anti-join per (column, file) pair plus ONE broadcast
    map join file_path -> seq (O(#files) rows). Values-proportional,
    like the position path — an equality set too big to broadcast is
    the signal to compact. ``fp_col`` names the raw
    ``_metadata.file_path`` column on ``df``."""
    from pyspark.sql import functions as F

    eq = manifest.get("eq_deletes") or []
    if not eq:
        return df
    cols = df.columns
    df = _with_file_seq(spark, df, manifest, fp_col)
    fseq = F.coalesce(F.col("__sq_seq"), F.lit(0))
    for e in eq:
        vals = spark.read.parquet(e["path"]).select(
            F.col(e["col"]).alias("__eq_v")
        )
        cond = df[e["col"]] == F.col("__eq_v")
        if e.get("seq") is not None:
            cond = cond & (fseq < F.lit(int(e["seq"])))
        df = df.join(F.broadcast(vals), cond, "left_anti")
    return df.select(*cols)


def _with_file_seq(spark: SparkSession, df: DataFrame, manifest: dict, fp_col: str):
    """Attach each row's file DATA SEQUENCE NUMBER as ``__sq_seq`` via
    one broadcast map join (O(#files) rows) keyed on the normalized
    ``fp_col`` path. Shared by equality-delete scoping and column
    defaults — both are 'does this row predate commit N' questions."""
    from pyspark.sql import functions as F

    smap = spark.createDataFrame(
        [(f["path"], int(f.get("seq", 0))) for f in manifest["files"]],
        "__sq_fp string, __sq_seq long",
    )
    return (
        df.withColumn("__sq_fp", _norm_fp(F.col(fp_col)))
        .join(F.broadcast(smap), on="__sq_fp", how="left")
        .drop("__sq_fp")
    )


def _apply_column_defaults(
    spark: SparkSession, df: DataFrame, manifest: dict, fp_col: str
) -> DataFrame:
    """COLUMN DEFAULT VALUES (the Iceberg v3 ``initial-default`` shape):
    a column added with a default reads that default from every file
    committed BEFORE the column existed (file seq < default seq —
    those files null-fill at scan, the default replaces the null),
    while files written after honor their STORED values including
    legitimate NULLs. Pure projection over the shared file-seq map —
    no data rewritten, O(#files) metadata."""
    from pyspark.sql import functions as F

    defaults = manifest.get("defaults") or {}
    cols = df.columns
    todo = {n: d for n, d in defaults.items() if n in cols}
    if not todo:
        return df
    df = _with_file_seq(spark, df, manifest, fp_col)
    fseq = F.coalesce(F.col("__sq_seq"), F.lit(0))
    for name, d in todo.items():
        df = df.withColumn(
            name,
            F.when(
                (fseq < F.lit(int(d["seq"]))) & F.col(name).isNull(),
                F.lit(d["v"]).cast(d["t"]),
            ).otherwise(F.col(name)),
        )
    return df.select(*cols)


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: plan from the (as-of) manifest's file list.

    The read uses the manifest's COMMITTED schema (reader-schema
    resolution, the Avro analogue): files written before a column was
    added lack it in their footers, and pinning the manifest schema on
    the scan makes Spark null-fill the missing column instead of
    failing or silently dropping it — additive schema evolution without
    a mergeSchema footer sweep (O(1) metadata instead of O(#files) at
    planning time).

    If the manifest carries delete vectors (merge-on-read DELETEs, the
    Iceberg v2 position-delete shape), they are applied here — readers
    always see the post-delete table; the raw files are a private
    storage detail."""
    from pyspark.sql import functions as F

    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    df = _base_reader(spark, manifest)
    deletes = manifest.get("deletes") or []
    eq = manifest.get("eq_deletes") or []
    defaults = manifest.get("defaults") or {}
    if not deletes and not eq and not defaults:
        return df
    # capture the row identity ONCE at the scan (it is not resolvable
    # after a join), feed both mask kinds + column defaults, then
    # project it away
    cols = df.columns
    pos = df.select(
        "*",
        F.col("_metadata.file_path").alias("__mt_fp"),
        F.col("_metadata.row_index").alias("__mt_ri"),
    )
    if deletes:
        dv = spark.read.parquet(*[d["path"] for d in deletes]).select(
            F.col("file_path").alias("__del_fp"),
            F.col("row_index").alias("__del_ri"),
        )
        pos = pos.join(
            F.broadcast(dv),
            (pos["__mt_fp"] == dv["__del_fp"])
            & (pos["__mt_ri"] == dv["__del_ri"]),
            "left_anti",
        )
    pos = _apply_equality_deletes(spark, pos, manifest, fp_col="__mt_fp")
    pos = _apply_column_defaults(spark, pos, manifest, fp_col="__mt_fp")
    return pos.select(*cols)


def read_version_with_pos(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """``read_version`` plus the row-identity columns ``file_path`` /
    ``row_index`` (from the parquet reader's ``_metadata`` struct) — the
    handle callers use to COMPUTE position deletes: filter this frame to
    the doomed rows, select the two identity columns, and pass them to
    ``commit_delete``. Because the identity is taken from the same
    reader that later applies the vectors, the recorded file_path
    matches byte-for-byte. Rows already masked by existing delete
    vectors are excluded, so re-deleting an already-deleted row is
    impossible by construction (the exactness invariant metadata-only
    COUNT depends on)."""
    from pyspark.sql import functions as F

    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    base = _base_reader(spark, manifest)
    cols = base.columns
    pos = base.select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    deletes = manifest.get("deletes") or []
    if deletes:
        dv = spark.read.parquet(*[d["path"] for d in deletes]).select(
            F.col("file_path").alias("__del_fp"),
            F.col("row_index").alias("__del_ri"),
        )
        pos = pos.join(
            F.broadcast(dv),
            (pos["file_path"] == dv["__del_fp"])
            & (pos["row_index"] == dv["__del_ri"]),
            "left_anti",
        ).select(*cols, "file_path", "row_index")
    pos = _apply_equality_deletes(spark, pos, manifest, fp_col="file_path")
    pos = _apply_column_defaults(spark, pos, manifest, fp_col="file_path")
    return pos


def commit_delete(
    spark: SparkSession,
    table_dir: str,
    positions: DataFrame,
    op: str = "delete",
) -> int:
    """MERGE-ON-READ row-level DELETE (the Iceberg v2 position-delete
    shape): publish a manifest whose live DATA set is byte-identical to
    the previous version — ZERO data files rewritten — plus one new
    position-delete parquet under ``_deletes/`` that readers anti-join
    away. ``positions`` must carry exactly the (file_path, row_index)
    identity columns produced by ``read_version_with_pos``.

    This is the capability copy-on-write MERGE cannot offer: deleting
    10 rows from a 1-GB file costs a kilobyte delete file, not a 1-GB
    rewrite — delete cost is proportional to ROWS DELETED. Superseded
    versions still read pre-delete (time travel ignores later delete
    commits); compaction (commit_replace from a read_version feed)
    folds the mask into fresh files and starts delete-free.

    Commit discipline keeps the delete set exact (live paths, unique
    positions): positions come from a deletes-applied identity read, so
    a row can never be deleted twice, and ``commit_rewrite`` refuses to
    run while vectors exist (a rewrite sourced from raw files would
    resurrect masked rows). That exactness is what lets ``table_stats``
    keep answering COUNT from metadata alone: live rows = footer sum −
    delete-vector sum."""
    prev = _head(table_dir, "cannot delete from an empty table")
    entries = _stage_deletes(positions.select("file_path", "row_index"), table_dir)
    return _commit(
        table_dir, op, lambda m, v: {"deletes": m.get("deletes", []) + entries},
        expected_base=prev, staged=entries,
    )


def diff_files(table_dir: str, v_from: int, v_to: int) -> list[str]:
    """Incremental-consumption diff: data files live at v_to that were
    not live at v_from (v_from=0 == everything). For append-only
    history the file-set diff IS the row-level delta, because files are
    immutable and never rewritten in place; across a REPLACE commit the
    diff returns the rewritten files (consumers downstream of a
    compaction must dedupe by row identity — the documented CDF caveat
    real table formats share)."""
    new = {f["path"] for f in read_manifest(table_dir, v_to)["files"]}
    old = (
        {f["path"] for f in read_manifest(table_dir, v_from)["files"]}
        if v_from
        else set()
    )
    return sorted(new - old)


def vacuum(table_dir: str, retain_last: int = 1) -> tuple[int, int]:
    """Physically delete data files referenced ONLY by manifests older
    than the last ``retain_last`` versions, and drop those expired
    manifests. THE ONE DESTRUCTIVE OPERATION in this format — time
    travel ends at the retention horizon, which is why real formats
    gate it behind a retention window instead of bundling it into
    compaction. Returns (n_deleted, n_kept)."""
    cur = current_version(table_dir)
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    horizon = max(1, cur - retain_last + 1)
    # REF-pinned versions stay fully alive regardless of the retention
    # horizon: a branch pointer (e.g. an unpublished "main" behind
    # staged WAP commits) must never have its files reclaimed under it.
    ref_versions = set()
    for rf in glob.glob(os.path.join(_log_dir(table_dir), "ref_*.json")):
        with open(rf) as fh:
            ref_versions.add(json.load(fh)["version"])
    keep_versions = set(range(horizon, cur + 1)) | ref_versions
    # MATERIALIZE-BEFORE-EXPIRE: a retained version stored as a delta
    # segment whose base chain passes through a doomed version would
    # become unreadable once the base is dropped — rewrite every such
    # manifest as a full snapshot first (ascending order, so a retained
    # base is settled before its dependents are examined). The atomic
    # os.replace preserves the version id; logical content is identical
    # by read_manifest's reconstruction.
    for v in sorted(keep_versions):
        try:
            raw = _read_raw(table_dir, v)
        except FileNotFoundError:
            continue
        if raw.get("format") == "delta" and raw["base"] not in keep_versions:
            full = read_manifest(table_dir, v)
            tmp = os.path.join(
                _log_dir(table_dir), f".v{v:05d}.{uuid.uuid4().hex[:8]}.tmp"
            )
            with open(tmp, "w") as fh:
                json.dump(full, fh)
            os.replace(
                tmp, os.path.join(_log_dir(table_dir), f"v{v:05d}.json")
            )
    live: set[str] = set()
    live_dv: set[str] = set()
    for v in sorted(keep_versions):
        m = read_manifest(table_dir, v)
        live |= {f["path"] for f in m["files"]}
        live_dv |= {d["path"] for d in m.get("deletes", [])}
        live_dv |= {d["path"] for d in m.get("eq_deletes", [])}
    deleted = 0
    for f in glob.glob(os.path.join(_data_dir(table_dir), "*.parquet")):
        if f not in live:
            os.remove(f)
            deleted += 1
    # delete-vector files referenced only by expired manifests expire
    # with them (a compaction drops the vectors from the live manifest,
    # so post-compaction vacuums reclaim the mask files too)
    for f in glob.glob(os.path.join(_deletes_dir(table_dir), "*.parquet")):
        if f not in live_dv:
            os.remove(f)
            deleted += 1
    for v in range(1, horizon):
        if v in ref_versions:
            continue  # pinned manifest survives with its files
        path = os.path.join(_log_dir(table_dir), f"v{v:05d}.json")
        if os.path.exists(path):
            os.remove(path)
    return deleted, len(live)


def prune_files(
    table_dir: str, version: int, col: str, lo, hi
) -> tuple[list[str], int]:
    """Stats-based file skipping: files whose [min, max] for ``col``
    intersects [lo, hi], compared TYPED — the manifest stores native
    JSON values (numbers as numbers, dates/timestamps as ISO strings),
    so a numeric predicate [10, 11] correctly keeps a file with range
    [9, 12] instead of the lexicographic "9" > "11" wrong-skip. Bounds
    whose type doesn't match the stored stat type keep the file
    (conservative: never skip on an incomparable predicate).
    Returns (surviving file paths, total file count at that version)."""
    manifest = read_manifest(table_dir, version)
    keep = []
    for f in manifest["files"]:
        st = f["stats"].get(col)
        if st is None or not _can_skip(st[0], st[1], lo, hi):
            keep.append(f["path"])
    return keep, len(manifest["files"])


#: ISO day-only form ('2020-01-05') vs any ISO temporal form (day-only,
#: or with a space/'T'-separated time part).
_ISO_DAY = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_ISO_TEMPORAL = re.compile(r"^\d{4}-\d{2}-\d{2}([ T].*)?$")


def _pad_temporal(s: str, side: str) -> str:
    """Widen a day-only ISO string to the full-day interval bound for
    ``side``: a DATE stat/predicate '2020-01-05' stands for the whole
    day, so as a LOWER bound it reads 00:00:00 and as an UPPER bound
    23:59:59.999999 — otherwise a timestamp-style predicate bound
    ('2020-01-05 00:00:00') compares lexicographically ABOVE the bare
    day string and a file whose max date equals the predicate's lower
    bound is wrongly skipped (ADVICE r12: same silent-row-loss class as
    the 'T'-separator bug)."""
    if _ISO_DAY.match(s):
        return s + (" 00:00:00" if side == "lo" else " 23:59:59.999999")
    return s


def _can_skip(fmin, fmax, lo, hi) -> bool:
    """True only when the file range [fmin, fmax] PROVABLY misses the
    predicate range [lo, hi] under type-consistent comparison.

    Strings get one extra normalization layer for temporal shapes:
    manifest DATE stats are day-only ISO strings while callers may pass
    timestamp-style bounds (and vice versa), and the two shapes do NOT
    order correctly against each other lexicographically. If every
    operand looks ISO-temporal, day-only operands are padded to their
    full-day interval bound and 'T' separators normalized to the
    manifest's space form; a mix of temporal and free-text strings is
    incomparable — keep the file."""
    numeric = (int, float)
    if isinstance(fmin, numeric) and isinstance(fmax, numeric):
        if not (isinstance(lo, numeric) and isinstance(hi, numeric)):
            return False
        return float(fmax) < float(lo) or float(fmin) > float(hi)
    if isinstance(fmin, str) and isinstance(fmax, str):
        if not (isinstance(lo, str) and isinstance(hi, str)):
            return False
        temporal = [bool(_ISO_TEMPORAL.match(s)) for s in (fmin, fmax, lo, hi)]
        if any(temporal):
            if not all(temporal):
                return False  # temporal vs free-text: incomparable
            fmin, fmax, lo, hi = (
                s.replace("T", " ", 1) for s in (fmin, fmax, lo, hi)
            )
            fmin, lo = _pad_temporal(fmin, "lo"), _pad_temporal(lo, "lo")
            fmax, hi = _pad_temporal(fmax, "hi"), _pad_temporal(hi, "hi")
        return fmax < lo or fmin > hi
    return False


def prune_files_multi(
    table_dir: str, version: int, preds: dict
) -> tuple[list[str], int]:
    """CONJUNCTIVE multi-column stats pruning: ``preds`` maps column ->
    (lo, hi); a file is skipped when ANY predicate's range provably
    misses that file's [min, max] (AND semantics — all predicates must
    be satisfiable for a row to survive, so one disjoint dimension is
    enough to skip). Typed comparison, keep-on-incomparable, same as
    prune_files. This is what makes a Z-ORDERED layout pay off: the
    interleave keeps every clustered dimension's per-file range narrow,
    so a multi-dimensional predicate box skips on whichever dimension
    misses."""
    manifest = read_manifest(table_dir, version)
    keep = []
    for f in manifest["files"]:
        skip = False
        for col, (lo, hi) in preds.items():
            st = f["stats"].get(col)
            if st is not None and _can_skip(st[0], st[1], lo, hi):
                skip = True
                break
        if not skip:
            keep.append(f["path"])
    return keep, len(manifest["files"])


def prune_files_bloom(
    table_dir: str, version: int, col: str, value: int
) -> tuple[list[str], int]:
    """POINT-LOOKUP file skipping via per-file bloom filters: keep only
    files whose bloom for ``col`` maybe-contains ``value`` (files
    without a bloom are always kept — the filter is an optimization,
    never a correctness dependency; false positives read a file for
    nothing, false negatives cannot happen)."""
    manifest = read_manifest(table_dir, version)
    keep = []
    for f in manifest["files"]:
        bloom = (f.get("bloom") or {}).get(col)
        if bloom is None or _bloom_maybe_contains(bloom, value):
            keep.append(f["path"])
    return keep, len(manifest["files"])


def table_stats(
    table_dir: str, version: int | None = None, col: str | None = None
) -> dict:
    """METADATA-ONLY aggregates: exact row count (sum of footer counts
    recorded at commit time) and, for ``col``, the table-wide min/max
    (fold of per-file stats) — answered from the manifest alone, zero
    data files opened. The COUNT is always exact (immutable files,
    exact footer counts) PROVIDED every live entry carries a 'rows'
    field — files_with_rows == n_files tells the caller; a manifest
    written by an older layout (or a hand-edited entry) without 'rows'
    would otherwise silently undercount (ADVICE r12). MIN/MAX are exact
    whenever every live file carries stats for the column
    (files_with_stats == n_files tells the caller; decimals are stored
    conservatively widened, so a decimal column reports bounds, not
    exact extrema — callers needing exactness check the kind flag)."""
    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    # Live rows = footer sum − delete-vector row sum. Exact because the
    # commit discipline keeps vectors live-and-unique: positions come
    # from a deletes-applied identity read (no double-delete possible)
    # and commit_rewrite refuses to strand vectors on replaced paths.
    n_delete_rows = sum(d.get("rows", 0) for d in manifest.get("deletes", []))
    out = {
        "n_rows": sum(f.get("rows", 0) for f in manifest["files"])
        - n_delete_rows,
        "n_files": len(manifest["files"]),
        "files_with_rows": sum(1 for f in manifest["files"] if "rows" in f),
        "n_delete_rows": n_delete_rows,
        "n_delete_files": len(manifest.get("deletes", [])),
        # equality deletes commit blind (no identity read), so the rows
        # they mask are unknowable from metadata: n_rows degrades to an
        # UPPER BOUND until a compaction folds them in
        "count_exact": not manifest.get("eq_deletes"),
    }
    if col is not None:
        lo = hi = None
        n_with = 0
        for f in manifest["files"]:
            st = f["stats"].get(col)
            if st is None:
                continue
            n_with += 1
            lo = st[0] if lo is None else min(lo, st[0])
            hi = st[1] if hi is None else max(hi, st[1])
        out["min"] = lo
        out["max"] = hi
        out["files_with_stats"] = n_with
    return out


def commit_rewrite(
    df_new: DataFrame,
    table_dir: str,
    stat_cols: list[str],
    replaced_paths: list[str],
    op: str = "merge",
) -> int:
    """COPY-ON-WRITE rewrite commit (the Delta/Iceberg MERGE shape):
    the new manifest = (previous live set minus ``replaced_paths``) +
    df_new's freshly staged files. Untouched files carry over by
    REFERENCE — zero data movement for them; only the files a merge
    actually hits are rewritten (callers find those via
    prune_files/prune_files_multi on the merge-key range, so the
    rewrite cost is proportional to the DATA TOUCHED, not the table).
    Superseded files stay on disk for time travel; vacuum reclaims
    them. A version race is not retried (a rewrite that lost to a
    concurrent commit must re-plan from the new snapshot — same rule
    as commit_replace).

    REFUSES to run while delete vectors exist: rewrite input is read
    from raw files (the caller pruned + read the affected paths), so a
    rewrite over live vectors would resurrect masked rows in the new
    files AND leave vectors pointing at superseded paths — compact the
    deletes away first (commit_replace from a read_version feed)."""
    replaced = set(replaced_paths)

    def plan(m, v):
        if m.get("deletes") or m.get("eq_deletes"):
            raise ValueError(
                "copy-on-write rewrite over live delete vectors would "
                "resurrect deleted rows: compact deletes first "
                "(commit_replace from a read_version feed)"
            )
        live = m.get("files", [])
        unknown = replaced - {f["path"] for f in live}
        if unknown:
            raise ValueError(f"replaced paths not in live set: {sorted(unknown)}")
        return {
            "files": [f for f in live if f["path"] not in replaced] + new,
            "schema": _merged_schema(m.get("schema"), df_new),
        }

    prev = current_version(table_dir)
    new: list[dict] = []
    # reject before staging: live masks, unknown paths, schema change
    plan(read_manifest(table_dir, prev) if prev else {}, prev + 1)
    new = _stage_files(df_new, table_dir, stat_cols)
    return _commit(table_dir, op, plan, staged=new)


#: Declared partition transforms (the Iceberg hidden-partitioning set
#: this format supports): ISO-prefix truncations of a date/timestamp
#: column. Prefix transforms are MONOTONE over the ISO string order,
#: which is what makes a raw-column predicate range map to a partition
#: value range without the query knowing the layout.
_PARTITION_TRANSFORMS = {"year": 4, "month": 7, "day": 10}

#: Iceberg's non-temporal transforms: identity (the value itself) and
#: bucket[N] (portable hash mod N — md5 of the string form, so hashlib
#: replays the JVM expression exactly for predicate-side mapping).
_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")


def _transform_expr(part_col: str, transform: str):
    """Partition-value Column for a declared transform, or None if the
    transform is unknown. The bucket hash is md5-based ON PURPOSE (not
    xxhash64): the predicate side must replay it OUTSIDE the JVM
    (``partition_value_of``), and hashlib md5 == F.md5 on the same
    UTF-8 string bytes."""
    from pyspark.sql import functions as F

    if transform in _PARTITION_TRANSFORMS:
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}[
            transform
        ]
        return F.date_format(F.col(part_col), fmt)
    if transform == "identity":
        return F.col(part_col).cast("string")
    m = _BUCKET_RE.fullmatch(transform)
    if m:
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.col(part_col).cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(int(m.group(1))),
        ).cast("string")
    return None


def partition_value_of(transform: str | None, value) -> str | None:
    """Map a raw-column EQUALITY literal through a transform to the
    partition value a file written under that transform would carry —
    the Python replay of ``_transform_expr`` (temporal: ISO prefix;
    identity: str; bucket[N]: md5 mod N). None = unknown transform
    (callers must keep the file: pruning is an optimization, never a
    correctness gate)."""
    if transform in _PARTITION_TRANSFORMS:
        return str(value)[: _PARTITION_TRANSFORMS[transform]]
    if transform == "identity":
        return str(value)
    m = _BUCKET_RE.fullmatch(transform or "")
    if m:
        import hashlib

        return str(
            int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
            % int(m.group(1))
        )
    return None


def commit_append_partitioned(
    df: DataFrame,
    table_dir: str,
    part_col: str,
    transform: str,
    stat_cols: list[str],
    op: str = "append",
    allow_evolution: bool = False,
) -> int:
    """HIDDEN-PARTITIONING append (the Iceberg partition-transform
    shape): the table DECLARES ``transform(part_col)`` (year/month/day)
    in its manifest; the writer derives the partition value, lands one
    file set per value (``partitionBy`` on a helper column that never
    enters the data files — the raw column stays, the derived value is
    pure layout), and records each file's partition value in its
    manifest entry. Queries filter on the RAW column; pruning maps the
    predicate through the declared transform (``prune_files_partition``)
    — users never reference, or even know, the layout. This is what
    fixes the classic Hive failure mode where queries silently scan
    everything unless they filter by the layout column by name.

    Scale: one shuffle by partition value per append (same cost class
    as any partitioned write); pruning stays O(#files) on the manifest.
    The transform column is derived INSIDE the write plan — no UDF, no
    extra pass.

    The staging write is the slow part, so a concurrent commit may land
    meanwhile: the publish re-reads the head and merges the staged
    entries onto THAT live set (ADVICE r13 high; the same
    win-the-next-version retry as commit_append — appends commute)."""
    pval_expr = _transform_expr(part_col, transform)
    if pval_expr is None:
        raise ValueError(
            f"unsupported transform {transform!r}; pick one of "
            f"{sorted(_PARTITION_TRANSFORMS)} + ['identity', 'bucket[N]']"
        )
    spec = {"col": part_col, "transform": transform}

    def plan(m, v):
        if m.get("partition_spec") not in (None, spec) and not allow_evolution:
            raise ValueError(
                f"partition spec mismatch: table declares "
                f"{m['partition_spec']}, writer passed {spec} (pass "
                f"allow_evolution=True to evolve the spec; existing files "
                f"keep pruning under the transform they were written with)"
            )
        schema = _merged_schema(m.get("schema"), df)
        return {"schema": schema, "partition_spec": spec, "files_add": entries}

    prev = current_version(table_dir)
    prev_meta = read_manifest_meta(table_dir, prev) if prev else {}
    entries: list[dict] = []
    plan(prev_meta, prev + 1)  # reject before staging
    _validate_constraints(df, prev_meta.get("constraints") or {})
    entries = _stage_files(
        df.withColumn("__pval", pval_expr).repartition("__pval"),
        table_dir, stat_cols, ptransform=transform,
    )
    return _commit(
        table_dir, op, plan, retry=True, base_files=False, staged=entries
    )


def evolve_partition_spec(
    table_dir: str, spec: dict | None, op: str = "evolve_spec"
) -> int:
    """METADATA-ONLY partition-spec change — the second half of
    partition evolution (VERDICT r13 item 6): publish a new version
    whose declared spec is ``spec`` (or REMOVED when None) with the
    live file set byte-identical. Zero data movement in either
    direction: existing files keep the (partition value, ptransform)
    recorded in their entries, so they keep pruning under the layout
    they were WRITTEN with; files appended after a removal simply
    carry no value and degrade to stats-only pruning. ``spec`` must be
    ``{"col": ..., "transform": year|month|day|identity|bucket[N]}`` or
    None."""
    if spec is not None:
        t = spec.get("transform")
        if _transform_expr(spec.get("col", "_"), t or "") is None:
            raise ValueError(
                f"unsupported transform {t!r}; pick one of "
                f"{sorted(_PARTITION_TRANSFORMS)} + ['identity', 'bucket[N]']"
            )
        if "col" not in spec:
            raise ValueError("partition spec needs a 'col'")
    return _commit(
        table_dir, op, lambda m, v: {"partition_spec": spec}, retry=True,
        empty="cannot evolve the spec of an empty table",
    )


def commit_add_column(
    table_dir: str,
    name: str,
    dtype: str,
    default=None,
    op: str = "add_column",
) -> int:
    """ADD COLUMN as a METADATA-ONLY commit — with an optional DEFAULT
    (the Iceberg v3 ``initial-default`` shape): zero files rewritten;
    rows committed BEFORE this version read ``default`` (their files
    lack the column physically, and the read path replaces the scan's
    null-fill per the recorded seq), while rows written after carry
    their stored values, including real NULLs. This is the 100-TB
    backfill killer: ``ALTER TABLE ADD COLUMN region DEFAULT 'emea'``
    costs one manifest write, not a table rewrite. Without a default
    the column simply null-fills (the pre-existing additive-evolution
    behavior, now available without riding on an append)."""

    def plan(m, v):
        schema = m.get("schema") or []
        if any(n == name for n, _ in schema):
            raise ValueError(f"column {name!r} already exists")
        defaults = dict(m.get("defaults") or {})
        if default is not None:
            defaults[name] = {"v": default, "t": dtype, "seq": v}
        return {"schema": [*schema, [name, dtype]], "defaults": defaults}

    return _commit(
        table_dir, op, plan, retry=True,
        empty="cannot add a column to an empty table",
    )


class ConstraintViolation(ValueError):
    """A commit's batch violated a table CHECK constraint — the commit
    was rejected and nothing was staged or published."""


def commit_add_constraint(
    table_dir: str, name: str, predicate: str, op: str = "add_constraint"
) -> int:
    """Declare a CHECK CONSTRAINT (the Delta ``ADD CONSTRAINT`` shape)
    as a metadata-only commit: ``predicate`` is a SQL boolean every row
    of every FUTURE batch must satisfy (``commit_append`` validates the
    batch and raises ConstraintViolation on the first offender — the
    write-side data-quality gate, enforced at the format layer so no
    writer can forget it). Existing data is NOT retro-validated (the
    Delta contract: the constraint gates writes from now on; audit old
    data with a query). NOT NULL is just ``col IS NOT NULL``."""

    def plan(m, v):
        cons = m.get("constraints") or {}
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        return {"constraints": {**cons, name: predicate}}

    return _commit(
        table_dir, op, plan, retry=True, empty="cannot constrain an empty table"
    )


def commit_drop_constraint(
    table_dir: str, name: str, op: str = "drop_constraint"
) -> int:
    """Drop a CHECK constraint (metadata-only commit)."""

    def plan(m, v):
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}")
        del cons[name]
        return {"constraints": cons}

    return _commit(
        table_dir, op, plan, retry=True,
        empty="cannot drop a constraint of an empty table",
    )


def _validate_constraints(df: DataFrame, constraints: dict) -> None:
    """Reject the batch if ANY row violates ANY declared constraint.
    One pass over the BATCH (never the table): all predicates fold into
    a single filter + limit(1) probe, so the gate costs at most one
    extra scan of the data being written and short-circuits on the
    first offender."""
    from pyspark.sql import functions as F

    if not constraints:
        return
    # ANSI/Delta CHECK semantics: a row is rejected only when a
    # predicate evaluates FALSE — UNKNOWN (null) passes, which is why
    # NOT NULL must be declared explicitly as `col IS NOT NULL`.
    viol = None
    for pred in constraints.values():
        c = ~F.coalesce(F.expr(pred), F.lit(True))
        viol = c if viol is None else (viol | c)
    bad = df.filter(viol).limit(1).collect()
    if bad:
        row_df = df.sparkSession.createDataFrame(bad, df.schema)
        offenders = sorted(
            n
            for n, p in constraints.items()
            if row_df.filter(
                ~F.coalesce(F.expr(p), F.lit(True))
            ).count()
        )
        raise ConstraintViolation(
            f"batch violates CHECK constraint(s) {offenders}: "
            f"first offending row {bad[0].asDict()}"
        )


def commit_widen_column(
    table_dir: str, name: str, new_type: str, op: str = "widen_column"
) -> int:
    """TYPE WIDENING (the Iceberg v3 evolution direction additive-only
    formats lack): promote a column's declared type along a SAFE chain
    — tinyint→smallint→int→bigint, float→double, decimal(p,s)→
    decimal(p+,s) — as a METADATA-ONLY commit. Zero files rewritten:
    the parquet scan upcasts each narrow file natively under the
    widened reader schema (verified capability of the Spark 4 parquet
    reader), so a 100-TB table outgrowing int32 keys costs one
    manifest write, not a rewrite. Narrowing or any unsafe change is
    rejected; later writers may keep writing the narrow type (accepted
    by ``_merged_schema``) or the wide one."""

    def plan(m, v):
        schema = [list(e) for e in (m.get("schema") or [])]
        by_name = {n: i for i, (n, _) in enumerate(schema)}
        if name not in by_name:
            raise ValueError(f"no such column {name!r}")
        old_type = schema[by_name[name]][1]
        if not _is_widening(old_type, new_type):
            raise ValueError(
                f"unsafe type change {old_type} -> {new_type}; only "
                f"widening promotions are supported"
            )
        schema[by_name[name]][1] = new_type
        return {"schema": schema}

    return _commit(
        table_dir, op, plan, retry=True,
        empty="cannot widen a column of an empty table",
    )


def prune_files_partition(
    table_dir: str, version: int, lo, hi
) -> tuple[list[str], int]:
    """Transform-aware partition pruning from RAW-column bounds: read
    the declared spec off the manifest, map [lo, hi] through the
    transform (ISO prefix — monotone, so the range maps to a range),
    and keep files whose recorded partition value intersects. The
    caller passes plain date/timestamp bounds and NEVER names the
    layout — that's the "hidden" in hidden partitioning. Files without
    a recorded value (pre-spec appends, compacted files) are always
    kept: the transform is an optimization, never a correctness
    dependency. Under PARTITION EVOLUTION each file prunes by its own
    recorded transform (see the loop comment) — including after the
    spec is REMOVED (evolve_partition_spec(None)): old generations
    keep pruning; only unvalued files are always kept."""
    manifest = read_manifest(table_dir, version)
    spec = manifest.get("partition_spec")
    files = manifest["files"]
    # Spec REMOVAL (evolve-to-unpartitioned) does NOT disable pruning
    # for older generations: each file still prunes under the transform
    # recorded in ITS OWN manifest entry (the current spec only governs
    # new writes). Only files with no recorded value — including
    # everything appended after the removal — are always kept; those
    # degrade gracefully to stats-only pruning.
    default_t = spec.get("transform") if spec is not None else None
    keep = []
    for f in files:
        if "partition" not in f:
            keep.append(f["path"])  # unvalued file: never skipped
            continue
        # PARTITION EVOLUTION: prune under the transform the file was
        # WRITTEN with (per-file ptransform; pre-evolution files fall
        # back to the manifest spec) — a spec change must never
        # reinterpret old partition values, only map the predicate
        # through each generation's own prefix length
        ft = f.get("ptransform", default_t)
        n = _PARTITION_TRANSFORMS.get(ft)
        if n is None:
            keep.append(f["path"])
            continue
        if str(lo)[:n] <= f["partition"] <= str(hi)[:n]:
            keep.append(f["path"])
    return keep, len(files)


def prune_files_partition_value(
    table_dir: str, version: int, value
) -> tuple[list[str], int]:
    """EQUALITY-predicate partition pruning for ANY transform family:
    map the raw-column literal through each file's own recorded
    transform (``partition_value_of`` — identity, bucket[N], or the
    temporal prefixes) and keep files whose partition value matches.
    This is what makes bucket[N] layouts useful: a point lookup on the
    bucketed key reads 1/N of the files with zero layout knowledge in
    the query. Same safety posture as the range form: unvalued files
    and unknown transforms are always kept."""
    manifest = read_manifest(table_dir, version)
    spec = manifest.get("partition_spec")
    files = manifest["files"]
    default_t = spec.get("transform") if spec is not None else None
    keep = []
    for f in files:
        if "partition" not in f:
            keep.append(f["path"])
            continue
        want = partition_value_of(f.get("ptransform", default_t), value)
        if want is None or f["partition"] == want:
            keep.append(f["path"])
    return keep, len(files)


def commit_delete_equality(
    spark: SparkSession,
    table_dir: str,
    col: str,
    values: DataFrame,
    op: str = "delete_eq",
) -> int:
    """EQUALITY DELETE (the second Iceberg v2 delete flavor): mask every
    row whose ``col`` matches any value in ``values`` (a 1-column
    DataFrame named ``col``) — WITHOUT reading a single data file at
    commit time. That's the advantage over position deletes: a position
    delete needs an identity read to find the doomed rows first; an
    equality delete commits blind (O(values) write, zero scans), which
    is the right shape for "delete these 50 customer ids across 100 TB
    for a GDPR request" — the scan cost moves to read time, and one
    compaction later it's gone entirely.

    Readers apply equality deletes as a broadcast anti-join on the
    column, AFTER position vectors. Metadata-only COUNT becomes a bound
    while equality deletes are live (matches can't be counted without
    reading) — ``table_stats`` reports ``count_exact: False`` until a
    compaction folds them in. Same commit discipline as position
    vectors: commit_rewrite refuses, commit_replace (from a
    read_version feed) drops them."""
    prev = _head(table_dir, "cannot delete from an empty table")
    entries = [
        {**e, "col": col}
        for e in _stage_deletes(values.select(col).distinct(), table_dir)
    ]
    return _commit(
        table_dir, op, lambda m, v: {"eq_deletes": m.get("eq_deletes", []) + entries},
        expected_base=prev, staged=entries,
    )


def read_changes(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int
) -> DataFrame:
    """ROW-LEVEL CHANGE FEED between two versions (the Delta CDF
    shape): data columns + ``_change_type`` ('insert' | 'delete'),
    NET semantics — a row appended and then deleted inside the window
    appears in neither side.

    * inserts: rows of data files added in the window, minus any rows
      already masked by delete vectors added in the same window;
    * deletes: rows identified by window-added position vectors that
      live in files ALREADY PRESENT at v_from (the reader materializes
      the full deleted row by joining the vector back to its file —
      consumers get values, not just positions), plus rows of v_from
      files matched by window-added equality deletes.

    Same caveat as ``diff_files``: across a REPLACE commit the file
    diff is not a row diff (compaction rewrites everything); consumers
    downstream of a compaction dedupe by row identity — the documented
    CDF limitation real formats share."""
    from pyspark.sql import functions as F

    mf = read_manifest(table_dir, v_from) if v_from else {"files": []}
    mt = read_manifest(table_dir, v_to)
    from_paths = {f["path"] for f in mf["files"]}
    added = [f["path"] for f in mt["files"] if f["path"] not in from_paths]
    old_pos = {d["path"] for d in mf.get("deletes", [])}
    new_pos = [
        d["path"] for d in mt.get("deletes", []) if d["path"] not in old_pos
    ]
    old_eq = {d["path"] for d in mf.get("eq_deletes", [])}
    new_eq = [
        d for d in mt.get("eq_deletes", []) if d["path"] not in old_eq
    ]
    schema = mt.get("schema")

    def _reader():
        r = spark.read
        if schema:
            r = r.schema(", ".join(f"`{n}` {t}" for n, t in schema))
        return r

    def _with_pos(paths):
        return _reader().parquet(*paths).select(
            "*",
            F.col("_metadata.file_path").alias("__cf_fp"),
            F.col("_metadata.row_index").alias("__cf_ri"),
        )

    cols = [n for n, _ in schema] if schema else None
    pieces = []
    dv = None
    if new_pos:
        dv = spark.read.parquet(*new_pos).select(
            F.col("file_path").alias("__del_fp"),
            F.col("row_index").alias("__del_ri"),
        )
    if added:
        ins = _with_pos(added)
        if cols is None:
            cols = [c for c in ins.columns if not c.startswith("__cf_")]
        if dv is not None:
            ins = ins.join(
                F.broadcast(dv),
                (ins["__cf_fp"] == dv["__del_fp"])
                & (ins["__cf_ri"] == dv["__del_ri"]),
                "left_anti",
            )
        # v_to's equality vectors mask the new files SEQ-SCOPED: an
        # in-window vector masks files appended before it; a file
        # appended after the vector (or a pre-window vector) is not
        # masked — matching read_version's sequence-number semantics
        ins = _apply_equality_deletes(spark, ins, mt, fp_col="__cf_fp")
        ins = _apply_column_defaults(spark, ins, mt, fp_col="__cf_fp")
        pieces.append(
            ins.select(*cols).withColumn("_change_type", F.lit("insert"))
        )
    if from_paths and (dv is not None or new_eq):
        old = _with_pos(sorted(from_paths))
        if cols is None:
            cols = [c for c in old.columns if not c.startswith("__cf_")]
        # restrict to rows VISIBLE at v_from: a row already masked
        # before the window must not re-emit as a delete (a downstream
        # retraction fold would subtract it twice)
        if mf.get("deletes"):
            odv = spark.read.parquet(
                *[d["path"] for d in mf["deletes"]]
            ).select(
                F.col("file_path").alias("__odel_fp"),
                F.col("row_index").alias("__odel_ri"),
            )
            old = old.join(
                F.broadcast(odv),
                (old["__cf_fp"] == odv["__odel_fp"])
                & (old["__cf_ri"] == odv["__odel_ri"]),
                "left_anti",
            )
        old = _apply_equality_deletes(spark, old, mf, fp_col="__cf_fp")
        # delete rows materialize the values consumers SAW at v_from,
        # including v_from's column defaults
        old = _apply_column_defaults(spark, old, mf, fp_col="__cf_fp")
        # Dedupe on PHYSICAL row identity (file_path, row_index), not on
        # data values (ADVICE r13 medium): two distinct rows with equal
        # column values deleted in the same window must emit TWO delete
        # rows (matching cdf_rows' one-per-physical-row contract) — a
        # value distinct() would under-retract downstream folds. The
        # identity dedupe only collapses the legitimate double-match
        # case: one physical row hit by both a position vector and an
        # equality vector in the same window.
        ident = ["__cf_fp", "__cf_ri"]
        dels = []
        if dv is not None:
            dels.append(
                old.join(
                    F.broadcast(dv),
                    (old["__cf_fp"] == dv["__del_fp"])
                    & (old["__cf_ri"] == dv["__del_ri"]),
                    "left_semi",
                ).select(*cols, *ident)
            )
        for e in new_eq:
            vals = spark.read.parquet(e["path"])
            dels.append(
                old.join(F.broadcast(vals), on=e["col"], how="left_semi")
                .select(*cols, *ident)
            )
        deleted = dels[0]
        for d in dels[1:]:
            deleted = deleted.unionByName(d)
        pieces.append(
            deleted.dropDuplicates(ident)
            .select(*cols)
            .withColumn("_change_type", F.lit("delete"))
        )
    if not pieces:
        base = _reader().parquet(
            *[f["path"] for f in mt["files"]]
        ).limit(0)
        return base.withColumn("_change_type", F.lit(""))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def set_ref(table_dir: str, name: str, version: int) -> None:
    """Move a named REF (branch pointer) to ``version`` — atomic
    os.replace, so readers of the ref never see a torn pointer. Refs
    decouple "committed" from "published": the log can hold versions a
    ref does not point at yet (staged snapshots), which is what makes
    write-audit-publish possible on a linear log."""
    if not os.path.exists(
        os.path.join(_log_dir(table_dir), f"v{version:05d}.json")
    ):
        raise ValueError(f"cannot point ref {name!r} at missing v{version}")
    tmp = os.path.join(
        _log_dir(table_dir), f".ref_{name}.{uuid.uuid4().hex[:8]}.tmp"
    )
    with open(tmp, "w") as fh:
        json.dump({"version": version}, fh)
    os.replace(tmp, os.path.join(_log_dir(table_dir), f"ref_{name}.json"))


def get_ref(table_dir: str, name: str) -> int | None:
    """Version a named ref points at, or None if the ref doesn't exist."""
    path = os.path.join(_log_dir(table_dir), f"ref_{name}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["version"]


def parent_of(table_dir: str, version: int) -> int:
    """Parent version in the history DAG: the recorded branch parent,
    or version - 1 for legacy/linear commits (0 = root)."""
    m = read_manifest(table_dir, version)
    p = m.get("parent")
    return int(p) if p is not None else version - 1


def is_ancestor(table_dir: str, ancestor: int, descendant: int) -> bool:
    """Walk the parent chain from ``descendant``: is ``ancestor`` on
    it? (0 is everyone's root.) O(chain length) kilobyte manifest
    reads. A chain broken by vacuum (an expired intermediate manifest)
    answers False — conservative: fast_forward then REFUSES rather
    than guessing lineage (re-point with set_ref explicitly if you
    know better)."""
    v = descendant
    while v > 0:
        if v == ancestor:
            return True
        try:
            v = parent_of(table_dir, v)
        except FileNotFoundError:
            return False  # lineage expired beyond the vacuum horizon
    return ancestor == 0


def create_branch(
    table_dir: str, name: str, at_version: int | None = None
) -> int:
    """Create a BRANCH: a named ref pointing at a snapshot (current by
    default). Zero-copy — branches share every data file with the
    versions they budded from; commits land on a branch via
    ``commit_append_to_ref`` and only move THAT ref."""
    v = current_version(table_dir) if at_version is None else at_version
    set_ref(table_dir, name, v)
    return v


def commit_append_to_ref(
    df: DataFrame,
    table_dir: str,
    ref: str,
    stat_cols: list[str],
    op: str = "append",
) -> int:
    """Append ON A BRANCH (the Iceberg branch-commit shape): the new
    manifest merges onto the REF's head (not the table's newest id),
    records that head as its PARENT in the history DAG, and moves only
    the ref. The linear version sequence is just an id allocator —
    concurrent writers on other branches race only for ids (retried),
    never for content. Readers of other refs never see these commits:
    isolation is structural, like WAP, but with full multi-commit
    lineage (fast_forward validates ancestry over the parent chain)."""
    base = get_ref(table_dir, ref)
    if base is None:
        raise ValueError(f"ref {ref!r} does not exist in {table_dir}")
    base_m = read_manifest_meta(table_dir, base)
    _merged_schema(base_m.get("schema"), df)  # reject before staging
    _validate_constraints(df, base_m.get("constraints") or {})
    new = _stage_files(df, table_dir, stat_cols)
    # a lost id race re-reads the ref and retries
    return _commit(
        table_dir, op,
        lambda m, v: {
            "files": m.get("files", []) + new,
            "schema": _merged_schema(m.get("schema"), df),
        },
        retry=True, ref=ref, staged=new,
    )


def fast_forward(table_dir: str, ref: str, to: int | str) -> int:
    """FAST-FORWARD a ref to a descendant snapshot (the git semantics
    Iceberg's ``fast_forward`` procedure mirrors): allowed only when
    the ref's current position is an ANCESTOR of the target on the
    parent chain — anything else would silently discard the ref's own
    commits (that is a MERGE, which this format does not fabricate).
    ``to`` is a version or another ref's name. Zero data movement:
    one atomic pointer move."""
    target = get_ref(table_dir, to) if isinstance(to, str) else int(to)
    if target is None:
        raise ValueError(f"ref {to!r} does not exist in {table_dir}")
    cur = get_ref(table_dir, ref)
    if cur is None:
        raise ValueError(f"ref {ref!r} does not exist in {table_dir}")
    if not is_ancestor(table_dir, cur, target):
        raise ValueError(
            f"cannot fast-forward {ref!r} v{cur} -> v{target}: not an "
            f"ancestor (diverged histories need a merge)"
        )
    set_ref(table_dir, ref, target)
    return target


def read_ref(
    spark: SparkSession, table_dir: str, name: str = "main"
) -> DataFrame:
    """Read the snapshot a ref points at (readers of a WAP-gated table
    read THE REF, never current_version — staged-but-unaudited commits
    are invisible until the publish step moves the pointer)."""
    v = get_ref(table_dir, name)
    if v is None:
        raise ValueError(f"ref {name!r} does not exist in {table_dir}")
    return read_version(spark, table_dir, v)


def rollback(table_dir: str, to_version: int, op: str = "restore") -> int:
    """RESTORE (the Delta `RESTORE TABLE ... TO VERSION` shape): publish
    a NEW version whose content is a byte-level copy of ``to_version``'s
    manifest — the log only ever moves forward (an audit trail survives
    the rollback; time travel still reaches the bad version), but the
    table's live state returns to the known-good snapshot. Zero data
    movement: the restored manifest references the same immutable
    files. The CHECK constraints are the one exception: they gate
    writes, not data, so the head's constraints stay in force."""
    src = read_manifest(table_dir, to_version)
    restored = {
        k: src.get(k) for k in ("files", *_SNAPSHOT_FIELDS) if k != "constraints"
    }
    return _commit(table_dir, op, lambda m, v: restored, base_files=False)


def read_version_with_lineage(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    paths: list[str] | None = None,
) -> DataFrame:
    """Masked read plus the STABLE ROW ID column ``_row_id`` (Iceberg v3
    row lineage): for ordinary files, ``first_row_id + row position``
    (the manifest allocator assigned first_row_id at commit); for files
    written by a lineage-preserving compaction, the MATERIALIZED
    ``__row_id`` column. The id survives compaction, masking, and time
    travel — the identity a downstream feature store or incremental
    trainer can key on while files churn underneath. One broadcast map
    join (O(#files)) on top of read_version's plan."""
    from pyspark.sql import functions as F

    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    schema = manifest.get("schema") or []
    ddl = ", ".join(f"`{n}` {t}" for n, t in schema)
    reader = spark.read.schema(ddl + ", `__row_id` bigint")
    file_list = [f["path"] for f in manifest["files"]]
    if paths is not None:
        file_list = [p for p in file_list if p in set(paths)]
    df = reader.parquet(*file_list)
    cols = [n for n, _ in schema]
    pos = df.select(
        "*",
        F.col("_metadata.file_path").alias("__mt_fp"),
        F.col("_metadata.row_index").alias("__mt_ri"),
    )
    deletes = manifest.get("deletes") or []
    if deletes:
        dv = spark.read.parquet(*[d["path"] for d in deletes]).select(
            F.col("file_path").alias("__del_fp"),
            F.col("row_index").alias("__del_ri"),
        )
        pos = pos.join(
            F.broadcast(dv),
            (pos["__mt_fp"] == dv["__del_fp"])
            & (pos["__mt_ri"] == dv["__del_ri"]),
            "left_anti",
        )
    pos = _apply_equality_deletes(spark, pos, manifest, fp_col="__mt_fp")
    pos = _apply_column_defaults(spark, pos, manifest, fp_col="__mt_fp")
    fmap = spark.createDataFrame(
        [
            (f["path"], f.get("first_row_id"))
            for f in manifest["files"]
        ],
        "__ln_fp string, __ln_first long",
    )
    pos = pos.withColumn("__ln_key", _norm_fp(F.col("__mt_fp")))
    pos = pos.join(
        F.broadcast(fmap), pos["__ln_key"] == fmap["__ln_fp"], "left"
    )
    row_id = F.coalesce(
        F.col("__row_id"), F.col("__ln_first") + F.col("__mt_ri")
    )
    return pos.select(*cols, row_id.alias("_row_id"))


def compact_with_lineage(
    spark: SparkSession, table_dir: str, stat_cols: list[str], op: str = "compact"
) -> int:
    """Lineage-PRESERVING compaction: rewrite the live (deletes-applied,
    defaults-applied) row set into fresh files that carry each row's
    ``__row_id`` as a physical column, and publish a REPLACE manifest —
    so ``_row_id`` reads identically before and after while every file
    path churns. Like ``commit_replace``, masks and the defaults
    section drop (both are materialized into the feed), the partition
    spec drops (the new files carry no partition values) and the
    constraints stay; UNLIKE it, the declared schema stays the DATA
    schema — ``__row_id`` is storage, not surface (ordinary reads pin
    the declared schema and never see it). The allocator high-water
    mark carries forward, so post-compact appends keep minting fresh
    ids."""
    prev = _head(table_dir, "cannot compact an empty table")
    feed = read_version_with_lineage(spark, table_dir, prev).withColumnRenamed(
        "_row_id", "__row_id"
    )
    new = _stage_files(feed, table_dir, stat_cols)
    return _commit(
        table_dir, op,
        lambda m, v: {
            "files": new,
            **dict.fromkeys(("deletes", "eq_deletes", "defaults", "partition_spec")),
        },
        base_files=False, expected_base=prev, staged=new,
    )


def commit_optimize_binpack(
    spark: SparkSession,
    table_dir: str,
    stat_cols: list[str],
    target_rows: int,
    op: str = "optimize",
) -> int:
    """PARTIAL small-file OPTIMIZE (the Iceberg ``rewrite_data_files``
    shape, unlike the full-table ``commit_replace``): first-fit-
    decreasing bin-pack every file under ``target_rows`` into
    ~target-sized bins and rewrite ONLY those — large files carry over
    BY REFERENCE, so OPTIMIZE cost tracks the small-file problem, not
    table size. Row-level state composes correctly through the partial
    rewrite:

    * position vectors: rewritten files' masked rows are APPLIED (the
      bin read is masks-applied) and their now-dead vector rows are
      PRUNED from the vector files; vectors for untouched files stay;
    * equality deletes: applied to the bins at read; the new files'
      HIGHER data sequence numbers take them out of scope
      automatically, while untouched older files stay masked — the
      seq-scoping invariant doing real work;
    * column defaults: materialized into the bins (their new seq ends
      default resolution for them); untouched files still resolve;
    * row lineage: bins carry materialized ``__row_id``, so ids are
      stable through the rewrite.

    Returns the new version (or the current one unchanged when fewer
    than two small files exist — nothing to pack)."""
    prev = _head(table_dir, "cannot optimize an empty table")
    m = read_manifest(table_dir, prev)
    small = [f for f in m["files"] if int(f.get("rows", 0)) < target_rows]
    if len(small) < 2:
        return prev
    # first-fit decreasing
    bins: list[list[dict]] = []
    loads: list[int] = []
    for f in sorted(small, key=lambda e: -int(e.get("rows", 0))):
        r = int(f.get("rows", 0))
        for i, ld in enumerate(loads):
            if ld + r <= target_rows:
                bins[i].append(f)
                loads[i] += r
                break
        else:
            bins.append([f])
            loads.append(r)
    # only bins that actually MERGE pay a rewrite: a small file alone in
    # its bin can't get bigger by rewriting — carry it by reference
    # (also makes OPTIMIZE idempotent: a second run finds no mergeable
    # pair and no-ops instead of churning files)
    bins = [b for b in bins if len(b) >= 2]
    if not bins:
        return prev
    rewritten = {f["path"] for b in bins for f in b}
    new_entries: list[dict] = []
    try:
        for b in bins:
            feed = read_version_with_lineage(
                spark, table_dir, prev, paths=[f["path"] for f in b]
            ).withColumnRenamed("_row_id", "__row_id")
            new_entries += _stage_files(feed.coalesce(1), table_dir, stat_cols)
    except BaseException:
        _unlink_entries(new_entries)
        raise

    def plan(m, v):
        # prune dead vector rows (they referenced rewritten files)
        import pyarrow as pa
        import pyarrow.parquet as pq

        new_deletes = []
        for d in m.get("deletes", []):
            t = pq.read_table(d["path"])
            keep_mask = [
                _norm_fp_str(fp) not in rewritten
                for fp in t.column("file_path").to_pylist()
            ]
            n_keep = sum(keep_mask)
            if n_keep == 0:
                continue  # vector fully dead: drop the entry
            if n_keep == t.num_rows:
                new_deletes.append(d)  # untouched
                continue
            pruned = t.filter(pa.array(keep_mask))
            dest = os.path.join(
                _deletes_dir(table_dir), f"{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(pruned, dest)
            new_deletes.append({"path": dest, "rows": n_keep})
        keep_files = [f for f in m["files"] if f["path"] not in rewritten]
        return {"files": keep_files + new_entries, "deletes": new_deletes}

    return _commit(
        table_dir, op, plan, expected_base=prev, staged=new_entries
    )


def _norm_fp_str(p: str) -> str:
    """String twin of ``_norm_fp`` for driver-side path comparisons."""
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:"):
        return p[5:]
    return p


def version_at_timestamp(table_dir: str, ts: float) -> int:
    """AS OF TIMESTAMP resolution (the Delta/Iceberg timestamp-travel
    shape): the NEWEST version whose commit wall-clock is <= ``ts``.
    Raises if ``ts`` predates the oldest readable commit (nothing was
    visible then) — same contract as Delta's TIMESTAMP AS OF. O(log
    versions) worth of kilobyte manifest reads per call in principle;
    linear here over the same tiny files the history table folds."""
    best = None
    for v in range(1, current_version(table_dir) + 1):
        try:
            m = read_manifest(table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed beyond retention
        if m.get("ts") is not None and float(m["ts"]) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no committed version at or before timestamp {ts} in {table_dir}"
        )
    return best


def read_version_as_of(
    spark: SparkSession, table_dir: str, ts: float
) -> DataFrame:
    """Time-travel read by WALL-CLOCK timestamp: resolve the snapshot
    with ``version_at_timestamp`` and plan the ordinary versioned
    read."""
    return read_version(spark, table_dir, version_at_timestamp(table_dir, ts))


def files_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The Iceberg ``table$files`` metadata table: one row per LIVE data
    file at a version — path, footer row count, per-column min/max
    stats (JSON-encoded), and the partition value if the table declares
    a transform. Answered from the manifest alone (zero data files
    opened): the ops surface for "which files does a query touch",
    small-file diagnosis, and pruning forensics. O(#files) driver-side
    over kilobyte manifests, same documented scale path as the rest of
    the metadata plane (distribute the manifest at production file
    counts)."""
    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    rows = [
        (
            f["path"],
            int(f.get("rows", 0)),
            json.dumps(f.get("stats", {}), sort_keys=True),
            f.get("partition"),
        )
        for f in manifest["files"]
    ]
    return spark.createDataFrame(
        rows, "file_path string, n_rows long, stats string, partition string"
    )


def history_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Iceberg ``table$history``/``$snapshots`` metadata table: one
    row per REACHABLE version — version, commit op, live file count,
    live (visible) row count, and whether row-level masks were live at
    that version. A pure manifest fold (no data reads): the audit
    surface for "what happened to this table" — appends, compactions,
    deletes, restores — which is what makes the forward-only log an
    audit trail rather than just a recovery mechanism."""
    rows = []
    for v in range(1, current_version(table_dir) + 1):
        try:
            m = read_manifest(table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed beyond retention
        n_del = sum(d.get("rows", 0) for d in m.get("deletes", []))
        rows.append(
            (
                v,
                m.get("op", ""),
                len(m["files"]),
                sum(f.get("rows", 0) for f in m["files"]) - n_del,
                bool(m.get("deletes") or m.get("eq_deletes")),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, n_files long, n_rows long, has_row_masks boolean",
    )


def partitions_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The Iceberg ``table$partitions`` metadata table — completing the
    metadata-table trio beside ``$files``/``$history`` (VERDICT r13
    item 8): one row per recorded (partition value, transform) pair
    with its live file count and footer row count, plus one NULL-valued
    row aggregating unvalued files (plain appends, compacted files,
    post-spec-removal writes). A pure manifest fold — zero data files
    opened. Under PARTITION EVOLUTION generations stay distinguishable
    because each row carries the transform its files were written with.

    Row counts are FOOTER counts (pre-mask, the Iceberg
    ``record_count`` semantic): live position/equality vectors are
    row-level overlays, reported by ``$history``'s has_row_masks, not
    subtracted here. O(#partitions) driver-side over kilobyte
    manifests; same documented scale path as the rest of the metadata
    plane."""
    v = current_version(table_dir) if version is None else version
    manifest = read_manifest(table_dir, v)
    default_t = (manifest.get("partition_spec") or {}).get("transform")
    agg: dict[tuple, list[int]] = {}
    for f in manifest["files"]:
        pval = f.get("partition")
        key = (pval, f.get("ptransform", default_t) if pval else None)
        e = agg.setdefault(key, [0, 0])
        e[0] += 1
        e[1] += int(f.get("rows", 0))
    rows = [
        (p, t, n, r)
        for (p, t), (n, r) in sorted(
            agg.items(), key=lambda kv: (kv[0][0] or "", kv[0][1] or "")
        )
    ]
    return spark.createDataFrame(
        rows,
        "partition string, ptransform string, n_files long, n_rows long",
    )


def refs_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Iceberg ``table$refs`` metadata table: one row per named ref
    — name, pinned version, and whether it sits at the log head. The
    ops surface for branch hygiene ("what is dev pinned to, did main
    publish") next to ``$files``/``$history``/``$partitions``. Pure
    directory listing of kilobyte pointer files."""
    rows = []
    head = current_version(table_dir)
    for p in sorted(glob.glob(os.path.join(_log_dir(table_dir), "ref_*.json"))):
        name = os.path.basename(p)[len("ref_"):-len(".json")]
        with open(p) as fh:
            v = int(json.load(fh)["version"])
        rows.append((name, v, v == head))
    return spark.createDataFrame(
        rows, "ref string, version long, at_head boolean"
    )


def maintenance_report(
    spark: SparkSession, table_dir: str, small_file_rows: int
) -> DataFrame:
    """TABLE-HEALTH REPORT — the ops dashboard row behind "does this
    table need maintenance": live file count, small-file count (under
    the given row threshold), footer row total, merge-on-read mask
    debt (position-vector rows + equality-vector values awaiting a
    compaction), reachable snapshot count, and a needs_compaction
    verdict (any small-file pair to pack, or any standing mask). Pure
    manifest fold — zero data files opened, O(#files + #versions)
    kilobyte reads; the input to a maintenance scheduler deciding
    where to spend `commit_optimize_binpack` / `vacuum` budget across
    thousands of tables."""
    cur = current_version(table_dir)
    m = read_manifest(table_dir, cur)
    files = m["files"]
    n_small = sum(1 for f in files if int(f.get("rows", 0)) < small_file_rows)
    pos_rows = sum(int(d.get("rows", 0)) for d in m.get("deletes", []))
    eq_vals = sum(int(d.get("rows", 0)) for d in m.get("eq_deletes", []))
    n_versions = 0
    for v in range(1, cur + 1):
        try:
            read_manifest(table_dir, v)
            n_versions += 1
        except FileNotFoundError:
            continue
    needs = n_small >= 2 or pos_rows > 0 or eq_vals > 0
    return spark.createDataFrame(
        [
            (
                len(files),
                n_small,
                sum(int(f.get("rows", 0)) for f in files),
                pos_rows,
                eq_vals,
                n_versions,
                needs,
            )
        ],
        "n_files long, n_small_files long, footer_rows long, "
        "pos_vector_rows long, eq_vector_values long, n_versions long, "
        "needs_compaction boolean",
    )


def _sniff_delta(path: str) -> bool:
    """Cheap stored-form probe: delta records carry '"format": "delta"'
    in their fixed header (version/op/ts/next_row_id/format — written
    before the O(changes) lists), so the first 512 bytes decide without
    parsing a potentially-huge full snapshot. A false positive (the
    marker appearing inside a full record's first file entry) is
    corrected by the caller's full parse; a miss is impossible for
    records this module wrote."""
    with open(path) as fh:
        return '"format": "delta"' in fh.read(512)


def files_table_distributed(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The DISTRIBUTED live-file listing — the scale path the
    driver-side ``files_table`` fold documents away: at production file
    counts (10^5-10^6 entries, GBs of metadata) the driver must not
    parse the snapshot at all. The delta tier makes that possible:
    driver-side work walks the segment chain parsing ONLY the delta
    records (O(changes) each, ≤ SNAPSHOT_INTERVAL of them, located via
    the 512-byte header sniff) and hands the full snapshot's PATH to
    executors unparsed — ``spark.read.json`` explodes its file array
    distributively, the chain's add/remove events union in, and
    LAST-EVENT-WINS per path (a window, executor-side) yields liveness:
    a path is live iff its newest event ≤ version is an add.

    Returns (file_path, n_rows, partition); stats stay in the entries
    (explode them the same way when a distributed stats scan is
    needed). Row-for-row equal to ``files_table``'s driver fold —
    pinned by q_scan_manifest_files_distributed's graded flag."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    v = current_version(table_dir) if version is None else version
    chain: list[dict] = []
    cur = v
    while True:
        p = os.path.join(_log_dir(table_dir), f"v{cur:05d}.json")
        if not _sniff_delta(p):
            snap_path, snap_v = p, cur
            break
        raw = _read_raw(table_dir, cur)
        if raw.get("format") != "delta":  # sniff false positive
            snap_path, snap_v = p, cur
            break
        chain.append(raw)
        cur = raw["base"]
    snap = spark.read.json(snap_path)
    part_col = (
        F.col("f.partition")
        if "partition" in snap.select(F.explode("files").alias("f"))
        .select("f.*")
        .columns
        else F.lit(None).cast("string")
    )
    events = (
        snap.select(F.explode("files").alias("f"))
        .select(
            F.col("f.path").alias("file_path"),
            F.col("f.rows").cast("long").alias("n_rows"),
            part_col.alias("partition"),
            F.lit(snap_v).alias("ver"),
            F.lit("add").alias("kind"),
        )
    )
    ev_rows = []
    for raw in chain:
        ver = int(raw["version"])
        for f in raw.get("add_files", []):
            ev_rows.append(
                (f["path"], int(f.get("rows", 0)), f.get("partition"), ver,
                 "add")
            )
        for pth in raw.get("remove_paths", []):
            ev_rows.append((pth, None, None, ver, "remove"))
    if ev_rows:
        events = events.unionByName(
            spark.createDataFrame(
                ev_rows,
                "file_path string, n_rows long, partition string, "
                "ver int, kind string",
            )
        )
    w = Window.partitionBy("file_path").orderBy(F.desc("ver"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("kind") == "add"))
        .select("file_path", "n_rows", "partition")
    )


def compact_manifests(table_dir: str, op: str = "rewrite_manifests") -> int:
    """REWRITE MANIFESTS (the Iceberg ``rewrite_manifests`` procedure):
    METADATA-ONLY maintenance that publishes a new version whose
    manifest stores the reconstructed live state as a FULL snapshot —
    zero data files touched, zero rows moved — so subsequent delta
    chains restart at depth 0 and a read folds one segment instead of
    up to SNAPSHOT_INTERVAL. The dual of vacuum's materialize-before-
    expire: this one is scheduled (run it when $manifests shows deep
    chains), that one is forced by retention. Time travel is intact —
    it's an ordinary append-only commit, every prior version still
    reads. Version races retry (the rewrite commutes with itself;
    a race with a data commit just re-reconstructs)."""
    return _commit(
        table_dir, op, lambda m, v: {}, retry=True, force_full=True,
        empty="cannot rewrite manifests of an empty table",
    )


def commit_drop_partition(
    table_dir: str,
    values: list[str],
    op: str = "drop_partition",
) -> tuple[int, int]:
    """METADATA-ONLY ``DROP PARTITION`` (the Iceberg
    ``DELETE FROM t WHERE partition_predicate`` whole-file fast path):
    when every row of a file satisfies the delete predicate — which the
    manifest KNOWS from the file's recorded partition value — the commit
    simply removes those entries from the live set. Zero data files are
    read, rewritten, or unlinked: dropped files stay on disk for time
    travel (vacuum reclaims them once their versions expire), and the
    commit costs O(#files in the manifest), never O(rows).

    This is the third member of the delete triangle: copy-on-write
    MERGE rewrites files (cost ∝ file bytes), merge-on-read vectors
    mask rows (cost ∝ rows deleted), and partition drop removes whole
    files (cost ∝ metadata) — the right tool when retention/GDPR lines
    up with the partition layout, e.g. "drop month 2019-03".

    ``values`` are partition values under the table's declared
    transform (the same strings ``commit_append_partitioned`` records).
    Refuses on an unpartitioned table — a predicate that does not align
    with whole files needs the MoR/CoW paths instead. Returns
    ``(new_version, files_dropped)``; racing commits retry against the
    advanced head (the drop re-partitions the new live set)."""
    want = set(values)
    dropped = []

    def plan(m, v):
        if not m.get("partition_spec"):
            raise ValueError(
                "table is not partitioned; use merge-on-read or "
                "copy-on-write deletes for row-level predicates"
            )
        keep = [f for f in m["files"] if f.get("partition") not in want]
        dropped[:] = [len(m["files"]) - len(keep)]  # of the attempt that wins
        return {"files": keep}

    v = _commit(
        table_dir, op, plan, retry=True,
        empty="cannot drop partitions of an empty table",
    )
    return v, dropped[0]


def manifests_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Iceberg ``table$manifests`` metadata table, adapted to the
    delta tier: one row per reachable version's STORED form — full
    snapshot or delta segment, chain depth, and added/removed entry
    counts. This is the ops surface for the metadata plane itself:
    "how deep are my segment chains / when should rewrite_manifests
    run", the question the incremental tier introduces. Raw reads only
    (_read_raw) — listing the forms must not pay reconstruction."""
    rows = []
    for v in range(1, current_version(table_dir) + 1):
        try:
            raw = _read_raw(table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed beyond retention
        if raw.get("format") == "delta":
            rows.append(
                (
                    v,
                    "delta",
                    int(raw.get("delta_depth", 1)),
                    len(raw.get("add_files", [])),
                    len(raw.get("remove_paths", [])),
                )
            )
        else:
            rows.append((v, "full", 0, len(raw.get("files", [])), 0))
    return spark.createDataFrame(
        rows,
        "version int, form string, delta_depth int, "
        "n_added int, n_removed int",
    )


def register_table(
    spark: SparkSession,
    table_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """Expose a manifest table to SPARK SQL: create (or replace) a temp
    view ``name`` over the masked, defaults-resolved snapshot read —
    ``spark.sql("SELECT ... FROM name JOIN ...")`` then plans through
    the exact same Catalyst tree as ``read_version`` (pinned schema,
    broadcast mask joins, pushdown into the parquet scan), so SQL
    users pay nothing for the format. ``version`` pins time travel
    into the view. Returns the view's DataFrame."""
    df = read_version(spark, table_dir, version)
    df.createOrReplaceTempView(name)
    return df


def clone_table(src_dir: str, dst_dir: str) -> int:
    """SHALLOW CLONE (the Delta `CLONE` shape): create a NEW table whose
    v1 manifest references the source's current live files, delete
    vectors, schema, and partition spec BY PATH — zero data copied. At
    100 TB this is how you get a dev/test sandbox or a reorg staging
    table instantly; the clone then evolves independently (its commits
    append/replace under its own log) while the shared files stay
    immutable by format contract.

    Caveat (same as Delta shallow clones): the clone borrows the
    source's files, so a SOURCE-side vacuum that expires them breaks
    the clone — production flows either deep-copy on first compaction
    (the clone's own commit_replace materializes it) or pin source
    retention. The clone's own vacuum only ever deletes files under
    ITS data/ dir (absolute paths elsewhere are never globbed), so a
    clone vacuum cannot damage the source."""
    src_v = current_version(src_dir)
    if not src_v:
        raise ValueError(f"cannot clone empty table {src_dir}")
    if current_version(dst_dir):
        raise ValueError(f"clone destination {dst_dir} already exists")
    m = read_manifest(src_dir, src_v)
    return _commit(
        dst_dir, f"clone:{src_dir}@v{src_v}",
        lambda base, v: {k: m.get(k) for k in ("files", *_SNAPSHOT_FIELDS)},
        expected_base=0,
    )


def commit_update_mor(
    spark: SparkSession,
    table_dir: str,
    positions: DataFrame,
    df_new: DataFrame,
    stat_cols: list[str],
    op: str = "update",
) -> int:
    """ATOMIC merge-on-read UPDATE: mask the old row versions (position
    vector) and land their replacements (new data files) in ONE commit
    — a reader sees either the whole update or none of it, never the
    deleted-but-not-reinserted intermediate that a separate
    commit_delete + commit_append pair would expose.

    This is the third write-amplification tier, completing the ladder:
    copy-on-write MERGE rewrites whole touched FILES; this rewrites
    only the touched ROWS (new small file + kilobyte vector) — at
    100 TB an update of 10 rows in a 1-GB file costs kilobytes, and
    the trade is the same broadcast anti-join at read that all
    merge-on-read masks pay until compaction. ``positions`` identifies
    the doomed old versions (from ``read_version_with_pos``); ``df_new``
    carries the replacement rows. The two are independent writes, so
    they stage as concurrent Spark jobs."""
    prev = _head(table_dir, "cannot update an empty table")
    prev_meta = read_manifest_meta(table_dir, prev)
    _merged_schema(prev_meta.get("schema"), df_new)  # reject early
    # replacement/new rows of a MoR UPDATE/MERGE satisfy the same gate
    _validate_constraints(df_new, prev_meta.get("constraints") or {})
    new_files, dv_entries = _run_staging_jobs(
        spark,
        [
            functools.partial(_stage_files, df_new, table_dir, stat_cols),
            functools.partial(
                _stage_deletes, positions.select("file_path", "row_index"), table_dir
            ),
        ],
    )
    return _commit(
        table_dir, op,
        lambda m, v: {
            "files": m["files"] + new_files,
            "schema": _merged_schema(m.get("schema"), df_new),
            "deletes": m.get("deletes", []) + dv_entries,
        },
        expected_base=prev, staged=new_files + dv_entries,
    )


def commit_merge_mor(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    stat_cols: list[str],
    op: str = "merge_mor",
) -> int:
    """MERGE-ON-READ ``MERGE INTO`` — the full three-clause statement as
    ONE atomic commit, completing the write-amplification ladder's MoR
    rung next to copy-on-write MERGE (``commit_rewrite`` of whole
    touched files) and MoR UPDATE/DELETE (single-clause):

    * WHEN MATCHED AND __op='u'  THEN UPDATE — old row versions masked
      by a position vector, replacement rows landed;
    * WHEN MATCHED AND __op='d'  THEN DELETE — masked, no replacement;
    * WHEN NOT MATCHED AND __op='i' THEN INSERT — appended.

    ``source`` carries the table's data columns plus a ``__op`` column
    ('u' | 'd' | 'i'). Clause scoping is strict: an 'u'/'d' row whose
    key matches nothing is a no-op (not an upsert), and an 'i' row
    whose key already exists is dropped (no duplicate) — the
    deterministic subset of ANSI MERGE the Delta/Iceberg statement
    implements.

    Scale: the source (a change batch) broadcasts; finding doomed
    positions is one broadcast semi-join over the identity read, and
    the write is O(rows changed) — a 10-row merge into a 1-GB file
    costs kilobytes (vector + small replacement file), never a file
    rewrite. Atomicity comes from ``commit_update_mor``: vector and
    replacement rows publish in the same manifest."""
    from pyspark.sql import functions as F

    schema = table_schema(table_dir)
    if not schema:
        raise ValueError("cannot merge into an empty table")
    cols = [n for n, _ in schema]
    if "__op" not in source.columns:
        raise ValueError("merge source needs an __op column ('u'|'d'|'i')")
    cur = read_version_with_pos(spark, table_dir)
    touched_keys = source.filter(F.col("__op").isin("u", "d")).select(key)
    doomed = cur.join(F.broadcast(touched_keys), on=key, how="left_semi").select(
        "file_path", "row_index"
    )
    # Which source keys exist in the table? ONE scan with the SMALL
    # side as the broadcast build (never broadcast the table): the
    # semi-join's output is <= |source| distinct keys, which then
    # broadcasts into the clause-scoping joins below.
    present = (
        cur.join(
            F.broadcast(source.select(key).distinct()),
            on=key,
            how="left_semi",
        )
        .select(key)
        .distinct()
    )
    # updates replace only MATCHED keys; inserts land only UNMATCHED
    upd = (
        source.filter(F.col("__op") == "u")
        .join(F.broadcast(present), on=key, how="left_semi")
        .select(*cols)
    )
    ins = (
        source.filter(F.col("__op") == "i")
        .join(F.broadcast(present), on=key, how="left_anti")
        .select(*cols)
    )
    return commit_update_mor(
        spark, table_dir, doomed, upd.unionByName(ins), stat_cols, op=op
    )


def remove_orphan_files(
    table_dir: str,
    older_than_s: float = 3 * 24 * 3600.0,
    now: float | None = None,
) -> tuple[int, int]:
    """REMOVE ORPHAN FILES (the Iceberg ``remove_orphan_files`` shape,
    distinct from ``vacuum`` on both axes): delete physical files in
    the table's data/deletes directories that NO manifest version
    references — crashed-writer leftovers — while (a) never expiring a
    manifest (time travel to EVERY version survives, unlike vacuum's
    retention horizon) and (b) only touching files whose mtime is older
    than ``older_than_s``. The age gate is the correctness boundary,
    not a nicety: this format stages data files BEFORE publishing the
    manifest (``_stage_files`` → ``_publish``), so a concurrent
    writer's staged-but-unpublished files are indistinguishable from
    orphans by reference-counting alone — exactly why Iceberg defaults
    ``older_than`` to 3 days. Returns (n_deleted, n_skipped_recent);
    ``now`` is injectable for tests."""
    import time as _time

    cutoff = (now if now is not None else _time.time()) - older_than_s
    # Liveness is decided by path membership — compare REAL paths on both
    # sides so a caller passing a differently-normalized table_dir
    # (relative vs absolute, symlinked mount) can never misclassify live
    # data files as orphans and physically delete them.
    live: set[str] = set()
    live_dv: set[str] = set()
    any_manifest = False
    for v in range(1, current_version(table_dir) + 1):
        try:
            m = read_manifest(table_dir, v)
        except FileNotFoundError:
            continue  # vacuumed beyond retention — nothing to protect
        any_manifest = True
        live |= {os.path.realpath(f["path"]) for f in m["files"]}
        live_dv |= {os.path.realpath(d["path"]) for d in m.get("deletes", [])}
        live_dv |= {
            os.path.realpath(d["path"]) for d in m.get("eq_deletes", [])
        }
    if not any_manifest:
        # No readable manifest at all: refuse to GC rather than treat the
        # entire data directory as orphaned (a mis-pointed table_dir or a
        # corrupted log would otherwise mean total data loss).
        return 0, 0
    deleted = skipped = 0
    for dirpath, refs in (
        (_data_dir(table_dir), live),
        (_deletes_dir(table_dir), live_dv),
    ):
        for f in glob.glob(os.path.join(dirpath, "*.parquet")):
            if os.path.realpath(f) in refs:
                continue
            if os.path.getmtime(f) > cutoff:
                skipped += 1  # possibly a concurrent writer's staging
                continue
            os.remove(f)
            deleted += 1
    return deleted, skipped


def set_policy(
    table_dir: str,
    name: str,
    row_filter: str | None = None,
    column_masks: dict[str, str] | None = None,
    exempt: tuple[str, ...] = ("admin",),
) -> None:
    """Register a named GOVERNANCE POLICY (the row-filter + column-mask
    shape of Databricks/Snowflake row access policies): ``row_filter``
    is a SQL boolean the read keeps, ``column_masks`` maps column →
    SQL replacement expression (may reference the column itself for
    partial masks), ``exempt`` principals read through unmasked.

    Policies live in a TABLE-scoped sidecar (``policies.json`` in the
    log dir, atomic-replace like refs), deliberately NOT per-manifest:
    a policy must keep protecting time-travel reads of snapshots
    committed BEFORE it existed — storing it snapshot-scoped would let
    ``VERSION AS OF`` leak pre-policy rows, the classic governance
    hole. The data plane is untouched: zero files rewritten."""
    path = os.path.join(_log_dir(table_dir), "policies.json")
    pols = {}
    if os.path.exists(path):
        with open(path) as fh:
            pols = json.load(fh)
    pols[name] = {
        "row_filter": row_filter,
        "column_masks": column_masks or {},
        "exempt": list(exempt),
    }
    tmp = os.path.join(_log_dir(table_dir), f".pol.{uuid.uuid4().hex[:8]}.tmp")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(pols, fh)
    os.replace(tmp, path)


def drop_policy(table_dir: str, name: str) -> None:
    path = os.path.join(_log_dir(table_dir), "policies.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        pols = json.load(fh)
    pols.pop(name, None)
    tmp = os.path.join(_log_dir(table_dir), f".pol.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(pols, fh)
    os.replace(tmp, path)


def get_policies(table_dir: str) -> dict:
    path = os.path.join(_log_dir(table_dir), "policies.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def read_with_policy(
    spark: SparkSession,
    table_dir: str,
    principal: str,
    version: int | None = None,
) -> DataFrame:
    """Policy-enforced read: ``read_version`` (full time-travel + mask
    + default semantics) with every registered policy applied for
    ``principal`` — row filters first, then column masks cast back to
    the column's declared type so the schema is principal-invariant
    (a governed view must not change shape per reader).

    Scale: the row filter is an ordinary Catalyst predicate (pushes to
    the scan where the column allows); masks are projection
    expressions — governance costs nothing beyond the expressions
    themselves, exactly like engine-native row-level security."""
    from pyspark.sql import functions as F

    df = read_version(spark, table_dir, version)
    dtypes = dict(df.dtypes)
    for pol in get_policies(table_dir).values():
        if principal in pol.get("exempt", []):
            continue
        if pol.get("row_filter"):
            df = df.filter(F.expr(pol["row_filter"]))
        for col, mask in (pol.get("column_masks") or {}).items():
            df = df.withColumn(col, F.expr(mask).cast(dtypes[col]))
    return df


def policies_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The ``table$policies`` metadata table — the governance audit
    surface next to $files/$history/$partitions/$refs: one row per
    registered policy with its row filter, mask count, masked-column
    CSV, and exempt-principal CSV. Pure sidecar-file read; the answer
    to "who can see what on this table" without touching data."""
    rows = []
    pols = get_policies(table_dir)
    for name in sorted(pols):
        pol = pols[name]
        masks = pol.get("column_masks") or {}
        rows.append(
            (
                name,
                pol.get("row_filter"),
                len(masks),
                ",".join(sorted(masks)),
                ",".join(sorted(pol.get("exempt", []))),
            )
        )
    return spark.createDataFrame(
        rows,
        "policy string, row_filter string, n_masks int, "
        "masked_columns string, exempt string",
    )
