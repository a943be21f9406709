"""Manifest-based snapshot versioning for parquet tables — a minimal
Delta/Iceberg-style commit log giving TIME TRAVEL over plain parquet.

Why it belongs in a training-data engine: reproducibility. A training
run must be able to pin "the corpus as of snapshot N" while ingestion
keeps appending; an eval must re-read the exact bytes a model saw.
Directory listings cannot provide that (files appear mid-write, and
compaction/overwrite destroys history). The classic fix is a commit
log: data files are immutable once written, and a VERSIONED MANIFEST
names exactly the files visible in each snapshot.

Design (scale posture):
- data files land under ``data/v<N>/`` first; the manifest commit is a
  single atomic ``os.replace`` LAST — a crash at any earlier point
  leaves orphan data files that no manifest references (invisible,
  sweepable), never a half-visible version.
- ``append`` manifests carry the previous version's file list plus the
  new files — snapshot isolation without rewriting or moving data.
- ``overwrite`` starts a fresh file list; prior versions still resolve
  (their files are never deleted here — retention/VACUUM is a separate
  maintenance decision, like the reference's never-deleting CSV sink,
  storage.py:22-36).
- readers resolve a manifest to concrete paths and hand them to ONE
  ``spark.read.parquet(*paths)`` — pushdown/pruning/AQE all apply; at
  100 TB the manifest read is a driver-side O(files) JSON parse, the
  same cost profile as Delta's checkpointless log replay.

The commit protocol mirrors sources/refsink.py's task-temp + rename
sink; tests/test_snapshots.py covers append/overwrite/time-travel and
the crash-before-commit invisibility property.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def versions(table_dir: str) -> list[int]:
    """Committed snapshot versions, ascending (empty if none)."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _load_manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table_dir), f"v{version}.json")) as f:
        return json.load(f)


_MAIN_IDX = "main.idx.json"


def _load_main_idx(table_dir: str) -> dict | None:
    try:
        with open(os.path.join(_manifest_dir(table_dir), _MAIN_IDX)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _update_main_idx(
    table_dir: str, v: int, is_main: bool, batch_key: str | None = None
) -> None:
    """Advance the main-line index through version ``v`` — called from
    _commit_manifest while the committer still holds its claim. Claims
    serialize committers only up to _await_predecessors' timeout, so
    the read-modify-write also holds an exclusive lock on
    ``_manifests/.idx.lock``: two committers past that timeout would
    otherwise clash on the tmp file or drop one's version from the idx.
    Atomic replace; a crash between the manifest publish and this
    update only leaves the idx one version behind, which the tail scan
    in main_versions heals on the next read. Streaming replay tokens
    ride along in ``batch_ids`` so the exactly-once check is an idx
    lookup, not a manifest sweep — and the memory SURVIVES vacuum,
    closing the window where a replay of a long-expired batch could
    re-append rows compaction already folded forward.

    ``v <= last`` does NOT mean a replay: a branch commit (which skips
    data-write serialization against main committers) can publish a
    HIGHER version while a main committer is mid data-write, so the
    lower main version lands here with the checkpoint already advanced
    past it. It must still be inserted — an early return would drop a
    committed main version (a delete, say) from idx["main"] forever,
    while main_versions' tail scan only covers v > last."""
    with open(os.path.join(_manifest_dir(table_dir), ".idx.lock"), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _advance_main_idx(table_dir, v, is_main, batch_key)


def _advance_main_idx(
    table_dir: str, v: int, is_main: bool, batch_key: str | None
) -> None:
    idx = _load_main_idx(table_dir)
    if idx is None:
        # missing/corrupt idx on a table that may already have history:
        # rebuild from a full manifest scan BEFORE recording v — seeding
        # {last: 0} and then stamping last=v would hide every earlier
        # main version from idx-answered reads (readers degrade to the
        # full scan when the idx is absent, but once we WRITE one it
        # must be complete up to its own `last`). The same scan MUST
        # repopulate batch_ids: _find_batch_commit and write_branch's
        # replay checks only tail-scan manifests with version > last,
        # so a streaming batch committed before the rebuilt `last`
        # would otherwise become invisible after idx loss and a
        # replayed micro-batch would re-apply — an exactly-once
        # violation. Keys keep the lane namespacing (`branch:<name>:
        # <id>` for branch manifests, bare str(id) for main).
        prior: list[int] = []
        batch_ids: dict[str, int] = {}
        for u in versions(table_dir):
            if u >= v:
                continue
            m = _load_manifest(table_dir, u)
            if "branch" not in m:
                prior.append(u)
            bid = m.get("batch_id")
            if bid is not None:
                br = m.get("branch")
                key = f"branch:{br}:{bid}" if br else str(bid)
                batch_ids[key] = u
        idx = {"last": max(prior, default=0), "main": prior}
        if batch_ids:
            idx["batch_ids"] = batch_ids
    if v > idx["last"]:
        if is_main:
            idx["main"].append(v)
        if batch_key is not None:
            idx.setdefault("batch_ids", {})[batch_key] = v
        idx["last"] = v
    else:
        changed = False
        if is_main and v not in idx["main"]:
            idx["main"] = sorted(idx["main"] + [v])
            changed = True
        if batch_key is not None and batch_key not in idx.get("batch_ids", {}):
            idx.setdefault("batch_ids", {})[batch_key] = v
            changed = True
        if not changed:
            return  # true replay: the idx already records v
    mdir = _manifest_dir(table_dir)
    tmp = os.path.join(mdir, f".tmp-{_MAIN_IDX}")
    with open(tmp, "w") as f:
        json.dump(idx, f)
    os.replace(tmp, os.path.join(mdir, _MAIN_IDX))


def _find_batch_commit(table_dir: str, batch_id: int) -> int | None:
    """The MAIN-LINE version that already committed streaming batch
    ``batch_id``, or None — idx lookup plus a tail scan of manifests
    newer than the idx's coverage (same healing contract as
    main_versions). Batch ids are namespaced by lane: branch commits
    keep their own counters (both start at 0), so a main sink sharing
    a table with a foreach_batch_branch sink must never treat the
    branch's ids as its own replays — branch manifests are skipped
    here and their idx keys carry a `branch:` prefix."""
    idx = _load_main_idx(table_dir)
    vs = versions(table_dir)
    if idx is not None:
        hit = idx.get("batch_ids", {}).get(str(batch_id))
        if hit is not None:
            return int(hit)
        tail = [v for v in vs if v > idx["last"]]
    else:
        tail = vs
    for pv in tail:
        m = _load_manifest(table_dir, pv)
        if "branch" not in m and m.get("batch_id") == batch_id:
            return pv
    return None


def main_versions(table_dir: str) -> list[int]:
    """Committed MAIN-LINE versions, ascending — the default-reader
    history. Branch commits (`write_branch`) share the global version
    sequence and data/ namespace but carry a `branch` marker in their
    manifest; they are invisible to default reads until `publish_branch`
    fast-forwards main onto them (the Iceberg WAP contract).

    Cost: the `main.idx.json` checkpoint (maintained at commit time)
    answers for every version up to its `last`; only manifests NEWER
    than that load as JSON (the Delta checkpoint+tail design). A
    streaming table with 10k commits pays one small idx read + the
    tail since the last commit, not 10k manifest parses per read. The
    idx is advisory: missing/stale/corrupt degrades to the full scan
    and self-heals at the next commit; vacuumed versions are filtered
    against the live manifest listing."""
    vs = versions(table_dir)
    idx = _load_main_idx(table_dir)
    if idx is None:
        return [v for v in vs if "branch" not in _load_manifest(table_dir, v)]
    live = set(vs)
    covered = [v for v in idx["main"] if v in live]
    tail = [
        v
        for v in vs
        if v > idx["last"] and "branch" not in _load_manifest(table_dir, v)
    ]
    return covered + tail


def assert_serial_apply(
    table_dir: str,
    v_read: int,
    v_committed: int | None = None,
    what: str = "index apply",
    healable: bool = True,
) -> None:
    """Optimistic single-writer guard for derived-state maintenance
    (read stored state -> compute delta-derived rows -> commit): any
    version committed BETWEEN the state read and this applier's own
    commit belongs to a concurrent applier whose rows were not in the
    state this apply derived from — its effects would be silently
    overwritten (lost counter increments, lost relabels) or never
    joined against (missed candidate pairs). The snapshot log
    serializes commits, which makes the race detectable after the
    fact. Replayed batch tokens return their original version <=
    v_read, leaving the gap range empty, so crash redeliveries never
    trip a post-commit check. Pure-APPEND refreshes (inverted-index
    postings, ANN code segments) need no guard: concurrent appends
    serialize and union — and first builds of KEYED tables are
    guarded by ``unique_keys`` PK enforcement instead (overlapping
    keys ARE the cross-writer interaction cases, so the loser's
    append is refused before any damage and its redelivery heals
    through the refresh path).

    ``v_committed=None`` = PRE-commit check: anything above v_read is
    an interloper; raising here is safe AND self-healing (nothing of
    ours committed — redelivery re-reads state that includes the
    interloper). ``healable=False`` marks a POST-commit backstop
    where our commit may already have overwritten the interloper —
    the raise then reports possible corruption honestly instead of
    promising a repair the replay token would skip."""
    gap = [
        w
        for w in main_versions(table_dir)
        if v_read < w and (v_committed is None or w < v_committed)
    ]
    if gap:
        where = (
            f"before this applier's commit (state read @v{v_read})"
            if v_committed is None
            else f"between the state read @v{v_read} and this applier's "
            f"commit @v{v_committed}"
        )
        repair = (
            "redeliver the batch (the retry reads the interloper's "
            "state and heals)"
            if healable
            else "this applier's commit may have OVERWRITTEN the "
            "interloper's effects — the stored state may be corrupted; "
            "rebuild the table from its source of truth"
        )
        raise RuntimeError(
            f"concurrent writers detected on {table_dir} during {what}: "
            f"versions {gap} committed {where}; the apply is "
            f"single-writer — {repair}"
        )


def _manifest_schema(manifest: dict):
    """The StructType a manifest pins for its snapshot, or None for
    manifests from before schemas were versioned (back-compat)."""
    from pyspark.sql.types import StructType

    sj = manifest.get("schema")
    return StructType.fromJson(sj) if sj else None


def _mapping(manifest: dict) -> dict:
    """LOGICAL -> PHYSICAL column-name mapping pinned by a manifest
    (the Delta column-mapping model: files keep their immutable
    PHYSICAL column names forever; renames and drops are metadata-only
    edits of the logical schema + this map). Absent/empty = identity —
    every pre-mapping table reads exactly as before."""
    return dict(manifest.get("column_mapping", {}))


def _physical_schema(manifest: dict):
    """The manifest schema with each field renamed to its PHYSICAL
    name — the schema the data files actually carry."""
    from pyspark.sql.types import StructField, StructType

    schema = _manifest_schema(manifest)
    mp = _mapping(manifest)
    if schema is None or not mp:
        return schema
    return StructType(
        [
            StructField(mp.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename a LOGICAL-named DataFrame to PHYSICAL names right before
    a file write (no-op for unmapped tables)."""
    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _first_parquet_file(path: str) -> str:
    """``path`` itself if it is a parquet file, else the first
    ``*.parquet`` inside it — for driver-side footer reads."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                return os.path.join(path, name)
    return path


def _pinned_parquet_read(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """Read parquet with the schema pinned from the first file's
    FOOTER (driver-side pyarrow + arrow->spark conversion) instead of
    Spark's schema-inference pass — the inference is one whole Spark
    job per read (round-12, measured via scripts/job_ledger.py), paid
    by every staged-file re-read of every commit. Falls back to the
    inference read for footer schemas the arrow->spark conversion
    cannot express.

    Precondition: ``paths`` are the staged files (or staging dir) of
    ONE commit, written by one Spark write of one DataFrame, so every
    file carries the first file's schema. Reads spanning commits,
    whose file schemas may have drifted, go through _read_physical,
    which pins the manifest's schema instead."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(
            pq.ParquetFile(_first_parquet_file(paths[0])).schema_arrow
        )
        return spark.read.schema(schema).parquet(*paths)
    except Exception:  # noqa: BLE001 — pinning is an optimization only
        return spark.read.parquet(*paths)


def _footer_min_max(meta, cols: list[str]) -> dict:
    """Per-column [min, max] folded over a parquet footer's row-group
    stats. JSON-safe types only (numeric/string); columns with missing
    or exotic stats are simply omitted (pruning stays safe: a file
    without stats is never skipped)."""
    out: dict[str, list] = {}
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            try:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            except Exception:  # noqa: BLE001 — e.g. INT96: arrow cannot decode
                ok = False
                break
        if ok and isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
            out[col] = [lo, hi]
    return out


def _file_stats(path: str, cols: list[str]) -> dict:
    """Per-column [min, max] from the parquet FOOTER row-group stats —
    no data read (see _footer_min_max)."""
    import pyarrow.parquet as pq

    return _footer_min_max(pq.ParquetFile(path).metadata, cols)


# Auto-coalesce threshold for freshly staged commits: a commit whose
# staged parquet totals at most this many bytes is rewritten into ONE
# file on the driver (pyarrow) before the manifest records it. Spark's
# parallel write of a small frame emits one near-empty file per task
# (often 32-200), and every later step pays per file: footer stats,
# bloom sidecar rows, live-read opens, affected-file scans, zone
# probes (guide §6 "small files hurt twice"). Scale-adaptive by
# construction — a commit bigger than the threshold keeps its parallel
# layout, so real data at cluster scale is untouched; this is Delta's
# optimized-write idea applied at the commit point.
_STAGE_COMPACT_MAX_BYTES = 32 * 1024 * 1024


def _layout_bound(manifest: dict) -> bool:
    """THE staging auto-coalesce rule: declared pruning metadata
    (partitioning, per-file stats, blooms) makes a table's file layout
    load-bearing for file skipping, so its commits keep their staged
    files; a table without it can never be file-pruned, and a small
    commit's many task-shard files are pure overhead (_stage_files
    coalesces them)."""
    return bool(
        manifest.get("partition_by")
        or manifest.get("stats")
        or manifest.get("bloom_cols")
    )


def _looks_clustered(paths: list[str]) -> bool:
    """True when the staged files are RANGE-CLUSTERED on some column —
    per-file footer [min,max] intervals pairwise disjoint for at least
    one column. A caller that shaped the layout (repartitionByRange, a
    sorted rewrite) did so for rewrite granularity or future pruning,
    so auto-coalescing must leave it alone even when the table has not
    (yet) declared stats. Random task shards overlap on every column
    and stay eligible. Footer-stats only — no data read; a column
    whose stats are missing simply can't vouch for clustering."""
    import pyarrow.parquet as pq

    per_file: list[dict] = []
    for p in paths:
        meta = pq.ParquetFile(p).metadata
        if meta.num_rows == 0:
            continue
        per_file.append(_footer_min_max(meta, meta.schema.names))
    if len(per_file) < 2:
        return False
    candidates = set.intersection(*[set(c) for c in per_file])
    for col in candidates:
        spans = sorted(c[col] for c in per_file)
        if all(
            spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
        ):
            return True
    return False


# Driver merges run one at a time on ONE thread of their own (the pool
# starts it on first use). Streaming sinks commit from concurrent py4j
# callback threads, and pyarrow keeps memory per thread that decodes or
# encodes: merging on each sink's thread raised the driver's peak RSS
# in a four-sink ingest run by ~40 MB, merging on one thread by ~14 MB.
_MERGE_POOL = ThreadPoolExecutor(max_workers=1, thread_name_prefix="snapshot-merge")
# rows per record batch when a merge's output is checked against its
# inputs: the check holds two such batches, not two whole files
_MERGE_CHECK_ROWS = 8192


def _same_rows(a, b) -> bool:
    """True when two record-batch streams hold the same rows in the
    same order (schema and values bit-exact), whatever their batch
    boundaries."""
    a = (x for x in a if x.num_rows)
    b = (y for y in b if y.num_rows)
    x, y = next(a, None), next(b, None)
    while x is not None and y is not None:
        n = min(x.num_rows, y.num_rows)
        if not x.slice(0, n).equals(y.slice(0, n)):
            return False
        x = x.slice(n) if n < x.num_rows else next(a, None)
        y = y.slice(n) if n < y.num_rows else next(b, None)
    return x is None and y is None


def _merge_parquet(paths: list[str], out: str) -> bool:
    """Write the rows of ``paths`` into ONE new parquet file ``out``, in
    input order, on the driver (pyarrow, no Spark job), VERIFIED before
    it counts:

    - the output's parquet schema must equal the first input's — the
      arrow round-trip re-encodes some Spark physical types (INT96
      timestamps become INT64 nanos, which Spark refuses to read as
      TIMESTAMP; integer-backed decimals become fixed-length binary),
      and an arrow-level comparison cannot see that;
    - the output, read back, must hold the inputs' rows in order,
      values bit-exact (`_same_rows`).

    The inputs stay in place; the caller decides their fate. Reads go
    through ``ParquetFile`` (``pq.read_table`` loads pyarrow.dataset, a
    one-off ~48 MB of driver RSS). The write holds one input at a time
    and the check streams both sides in small batches, so the driver
    holds about one copy of the largest input, never the whole set;
    merges run one at a time on one thread (_MERGE_POOL). Any surprise
    (schema mismatch, inequality, an exception) removes ``out`` and
    returns False."""
    return _MERGE_POOL.submit(_merge_now, paths, out).result()


def _merge_now(paths: list[str], out: str) -> bool:
    """`_merge_parquet`'s body, run on the merge thread."""
    import pyarrow.parquet as pq

    def _batches(files: list[str]):
        for p in files:
            yield from pq.ParquetFile(p).iter_batches(
                batch_size=_MERGE_CHECK_ROWS, use_threads=False
            )

    try:
        first = pq.ParquetFile(paths[0])
        with pq.ParquetWriter(
            out, first.schema_arrow, compression="snappy"
        ) as writer:
            for p in paths:
                t = pq.ParquetFile(p).read(use_threads=False)
                if t.num_rows:  # an empty table adds an empty row group
                    writer.write_table(t)
                del t  # freed before the next input is read
        ok = pq.ParquetFile(out).schema.equals(first.schema) and _same_rows(
            _batches(paths), _batches([out])
        )
    except Exception:  # noqa: BLE001 — any surprise keeps the inputs
        ok = False
    if not ok and os.path.exists(out):
        os.remove(out)
    return ok


def _plain_concat(table_dir: str, manifest: dict, rels: list[str]) -> bool:
    """True when concatenating ``rels`` as stored IS their rewrite under
    ``manifest``: every file's footer carries the same arrow schema, and
    it names and types exactly the manifest's physical columns. Files
    from before an additive evolution lack a column, files from before
    a drop still hold the retired one; both need the Spark rewrite,
    which reads through the manifest's schema. Footer reads only."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    want = _physical_schema(manifest)
    if want is None:
        return False
    try:
        schemas = [
            pq.ParquetFile(os.path.join(table_dir, rel)).schema_arrow
            for rel in rels
        ]
        if not all(s.equals(schemas[0]) for s in schemas[1:]):
            return False
        got = from_arrow_schema(schemas[0])
    except Exception:  # noqa: BLE001 — unknown layout: take the Spark path
        return False
    return [(f.name, f.dataType) for f in got.fields] == [
        (f.name, f.dataType) for f in want.fields
    ]


def _compact_staged(staging: str, rels_abs: list[str]) -> bool:
    """Rewrite a small staged commit's parquet parts into one file
    (`_merge_parquet`, verified) and remove the parts only once the
    merge verified; otherwise the original layout stays. Returns True
    iff compacted."""
    import uuid as _uuid

    out = os.path.join(
        staging, f"part-00000-{_uuid.uuid4().hex}-coalesced.parquet"
    )
    if not _merge_parquet(rels_abs, out):
        return False
    for p in rels_abs:
        os.remove(p)
        crc = os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    return True


def _stage_files(
    table_dir: str, rel_dir: str, coalesce_small: bool = True
) -> tuple[list[str], dict]:
    """List a commit's staged parquet files and capture per-file
    footer metadata (row count + bytes) for the manifest — METADATA-
    only reads of files just written (still page-cache-hot), so
    `count_rows`/`history` answer without ever scanning data. Driver-
    side O(new files) like the rest of the log; Delta records the
    same numRecords per file in its commit JSON.

    coalesce_small=True additionally merges a many-file commit under
    _STAGE_COMPACT_MAX_BYTES total into one file (see _compact_staged)
    — callers whose file layout IS the contract (compact()'s requested
    file count, partition-clustered writes) pass False."""
    import pyarrow.parquet as pq

    staging = os.path.join(table_dir, rel_dir)

    def _list() -> list[str]:
        return sorted(
            os.path.join(rel_dir, name)
            for name in os.listdir(staging)
            if name.endswith(".parquet")
        )

    rels = _list()
    sizes = [os.path.getsize(os.path.join(table_dir, r)) for r in rels]
    if (
        coalesce_small
        and _STAGE_COMPACT_MAX_BYTES > 0
        and len(rels) > 1
        and sum(sizes) <= _STAGE_COMPACT_MAX_BYTES
        and not _looks_clustered(
            [os.path.join(table_dir, r) for r in rels]
        )
        and _compact_staged(
            staging, [os.path.join(table_dir, r) for r in rels]
        )
    ):
        rels = _list()
    meta = {}
    for rel in rels:
        p = os.path.join(table_dir, rel)
        meta[rel] = {
            "rows": pq.ParquetFile(p).metadata.num_rows,
            "bytes": os.path.getsize(p),
        }
    return rels, meta


def _enforce_expectations(df: DataFrame, expectations: dict) -> None:
    """CHECK-constraint gate: count violations of every predicate in
    ONE aggregate pass and refuse the commit if any row fails (the
    Delta CHECK constraint contract — bad data never becomes a
    committed version; quarantine belongs upstream, see plans/dq.py).
    NULL predicate results count as violations, as SQL CHECK does
    not, but a lake constraint that silently passes NULLs hides the
    exact rows that break downstream — callers wanting SQL semantics
    write `cond OR col IS NULL`."""
    checks = [
        F.sum(
            F.when(~F.coalesce(F.expr(pred), F.lit(False)), 1).otherwise(0)
        ).alias(name)
        for name, pred in sorted(expectations.items())
    ]
    row = df.agg(*checks).collect()[0]
    bad = {name: int(row[name]) for name in row.asDict() if row[name]}
    if bad:
        raise ValueError(f"expectations violated, commit refused: {bad}")


def _enforce_unique(
    df: DataFrame,
    table_dir: str,
    prev: dict,
    keys: list[str],
    skip_batch_check: bool = False,
    batch_rows: int | None = None,
) -> None:
    """PRIMARY-KEY-style uniqueness gate: refuse the commit if the
    incoming batch repeats a key internally OR collides with a LIVE
    key already in the table (deletion-vector-deleted rows don't
    block re-insert — _live_rows applies the DV).

    Cost model (documented, like everything at 100 TB): the in-batch
    check is one combinable aggregate over the new rows. The vs-table
    probe takes the fast path when the batch carries <= 1024 distinct
    keys (the CDC/late-fix shape): collect them, prune the existing-file
    set by the key's zones and bloom (select_files_point), then
    semi-join ONLY the candidate files. A wide batch falls back
    to one key-projected, column-pruned scan + semi-join — what PK
    enforcement costs without an index, stated rather than hidden."""
    spark = df.sparkSession
    if skip_batch_check and not prev.get("files"):
        return  # first commit + structural uniqueness: nothing to gate
    # ONE batch job serves BOTH the in-batch dup gate and the bloom
    # probe (round-11 job fold, same shape as merge_into's): collect
    # the grouped key head; if it fits, dup-check on the driver and
    # reuse the rows as the probe key set. A truncated head = wide
    # batch: dup gate re-runs distributed, probe goes distributed.
    # WIDE-BY-COUNT shortcut (round-12): when the caller knows the
    # staged row count (parquet footer metadata, zero jobs) and it
    # exceeds the driver-probe cap, the head collect is provably
    # useless — a VALID unique batch has >= one distinct key per row,
    # so the head would always truncate. Skipping it saves the
    # collect's jobs on every wide commit; a dup-heavy wide batch
    # (rows > cap, keys <= cap) just means the distributed gate below
    # finds the dup, exactly as the truncated-head path did.
    _grouped = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    if batch_rows is not None and batch_rows > _BLOOM_DRIVER_KEYS_MAX + 1:
        probe = None
    else:
        probe = _grouped.limit(_BLOOM_DRIVER_KEYS_MAX + 2).collect()
    if probe is not None and len(probe) <= _BLOOM_DRIVER_KEYS_MAX + 1:
        dupe = [r for r in probe if r["n"] > 1][:1]
    elif skip_batch_check:
        dupe = []
    else:
        dupe = _grouped.where(F.col("n") > 1).limit(1).collect()
    if dupe:
        raise ValueError(
            f"unique_keys violated in the incoming batch, commit refused: "
            f"{dict(zip(keys, [dupe[0][k] for k in keys]))} appears "
            f"{dupe[0]['n']} times"
        )
    if not prev.get("files"):
        return
    new_keys = df.select(*keys).distinct()
    files = prev["files"]
    if (
        probe is not None
        and len(probe) <= _BLOOM_DRIVER_KEYS_MAX
        and keys[0] in prev.get("bloom_cols", [])
    ):
        files, _skipped = select_files_point(
            table_dir, prev["version"], keys[0], [r[keys[0]] for r in probe]
        )
        if not files:
            return  # every file's zone or bloom rules every new key out
    elif probe is None or len(probe) > _BLOOM_DRIVER_KEYS_MAX:
        # wide batch (round-11): distributed zone+bloom probe instead
        # of the former unconditional full scan — same no-false-
        # negative guarantee, so a None (probe declined) simply keeps
        # the full file list. Skipped under _PROBE_MIN_FILES: the
        # probe's fixed job outcosts scanning a handful of files.
        specinfo = _bloom_spec_for(prev, keys)
        if specinfo is not None and _probe_worthwhile(prev):
            res = select_files_keys(
                spark,
                table_dir,
                None,
                keys,
                _keys_probe_df(df, specinfo[1], dict(df.dtypes)),
                manifest=prev,
            )
            if res is not None:
                files = res[0]
                if not files:
                    return
    existing = _live_rows(spark, table_dir, prev, files).select(*keys)
    hit = existing.join(new_keys, list(keys), "left_semi").limit(1).collect()
    if hit:
        raise ValueError(
            f"unique_keys violated, commit refused: key "
            f"{dict(zip(keys, [hit[0][k] for k in keys]))} already live "
            f"in {table_dir} (use merge_into/update_where to upsert)"
        )


def _staged_gate_df(df: DataFrame, staging: str, cmap: dict) -> DataFrame:
    """The input of write_version's gates (expectations, unique keys).

    Gate passes are independent actions: running them against ``df``
    re-executes its whole lineage per pass — for an un-checkpointed
    aggregation source that doubles or triples the commit's compute.
    The staged files hold exactly df's rows, so re-read THEM instead
    (columns mapped back to logical names). Falls back to ``df`` when
    the parquet round-trip changes the schema (e.g. exotic types)."""
    try:
        sdf = _pinned_parquet_read(df.sparkSession, [staging])
        if cmap:
            inv = {p: l for l, p in cmap.items()}
            sdf = sdf.select(*[F.col(c).alias(inv.get(c, c)) for c in sdf.columns])
        if [(f.name, f.dataType) for f in sdf.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]:
            return sdf
    except Exception:
        pass
    return df


def write_version(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    expectations: dict[str, str] | None = None,
    bloom_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    unique_keys: list[str] | None = None,
    source_unique: bool = False,
    coalesce_small: bool | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir``.

    partition_by: METADATA partitioning (the Iceberg hidden-partition
    shape, not Hive directories): rows are hash-clustered so each file
    holds few distinct values of the partition columns, the columns
    stay IN the data files, and their per-file min/max land in the
    manifest — so `select_files` prunes partition-equality predicates
    from metadata alone while the file layout stays flat (no
    directory-encoding, no partition-column loss on per-file reads,
    rewrites need no special casing). Implies stats over these
    columns.

    mode='append': the new snapshot sees prior files + the new ones.
    mode='overwrite': the new snapshot sees only the new files (prior
    snapshots remain readable).
    stats_cols: record per-file min/max (from parquet footers) in the
    manifest for manifest-level file skipping (`select_files`).
    batch_id: idempotency token for streaming foreachBatch commits — a
    batch id already present in a committed manifest is a no-op replay
    and returns that existing version.
    expectations: {name: SQL predicate} CHECK constraints — persisted
    in the manifest as a TABLE PROPERTY, inherited and re-enforced by
    every later append/merge (new names add to the set), and the
    commit is REFUSED if any incoming row violates any of them. Costs
    one extra aggregate pass over ``df`` per commit, as Delta's CHECK
    enforcement does.
    bloom_cols: record a per-file BLOOM FILTER over these key columns
    for point-lookup file skipping (`select_files_point`,
    `delete_keys`). Inherited like expectations: later appends keep
    building blooms for their new files over the table's bloom
    columns. Integer and string keys only (see the bloom section).
    Costs one extra column-pruned pass over the NEW files per commit.
    source_unique: the writer's structural proof that ``df`` carries
    at most one row per declared unique key (its plan aggregates or
    distincts on them) — skips the unique-keys gate's in-batch dup
    scan (see _enforce_unique); the vs-table collision probe still
    runs whenever the table has live rows.
    coalesce_small: override the staging auto-coalesce rule (None =
    automatic: coalesce small commits unless pruning metadata or
    detected range clustering makes the layout load-bearing). Pass
    False when the commit's exact multi-file layout IS the intent
    (e.g. constructing fragmentation for compaction maintenance).
    Returns the committed version number. Data is written BEFORE the
    manifest; the manifest replace is the atomic commit point.

    Concurrency contract — SERIALIZABLE appends: data stages once
    under a transaction token, then a tight claim → wait-for-lower-
    claims → rebase-if-main-advanced → commit loop publishes it. The
    O_EXCL claim arbitrates version numbers; `_await_predecessors`
    makes commit order equal claim order (a writer waits for every
    lower live claim to commit or vanish before checking its base), so
    two concurrent appenders both land and the later one carries the
    earlier one's files — no lost updates (the Delta optimistic-commit
    loop). A crash between claim and commit strands the claim: that
    version number is skipped, the staged tx dir is TTL-swept by
    vacuum, and successors stop waiting once the claim goes stale.
    """
    import uuid as _uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    if bloom_cols:
        # composite specs may arrive as tuples/lists; the manifest (and
        # the index rows' `col` field) store the comma-joined spec
        bloom_cols = [
            c if isinstance(c, str) else ",".join(c) for c in bloom_cols
        ]
    if batch_id is not None:
        pv = _find_batch_commit(table_dir, batch_id)
        if pv is not None:
            return pv  # replayed micro-batch: already committed
    if partition_by is None:
        # The partition spec is TABLE metadata (the Iceberg model):
        # once declared it is INHERITED by every later commit until a
        # writer explicitly changes it (pass a new list to evolve the
        # spec — old files keep their old clustering, stats-based
        # pruning doesn't care — or [] to clear it). Inherit only when
        # the spec columns survive in this df (an overwrite may
        # legitimately re-shape them away).
        head = main_versions(table_dir)
        if head:
            inherited = _load_manifest(table_dir, head[-1]).get("partition_by")
            if inherited and set(inherited) <= set(df.columns):
                partition_by = list(inherited)
    if partition_by:
        missing = sorted(set(partition_by) - set(df.columns))
        if missing:
            raise ValueError(f"partition_by columns not in data: {missing}")
        # Materialize ONCE before the clustered write (round-11): a
        # partitioned commit otherwise executes its full lineage three
        # times — the distinct count below, repartitionByRange's range-
        # boundary sampling pass, and the write itself. For a commit
        # whose source is a real pipeline (tokenize/explode/groupBy)
        # that tripled the commit cost; the checkpoint turns the two
        # extra passes into cheap scans of materialized rows.
        df = df.localCheckpoint()
        # one range partition per distinct partition tuple (explicit N,
        # so AQE cannot coalesce the clustering away): files come out
        # (near-)single-valued in the partition columns and the
        # recorded min/max collapse to equality — metadata partition
        # pruning. The distinct count is one cheap agg per commit;
        # partition columns should be low-cardinality, as everywhere.
        nparts = df.select(*partition_by).distinct().count()
        df = df.repartitionByRange(
            max(1, int(nparts)), *[F.col(c) for c in partition_by]
        )
        stats_cols = sorted(set(stats_cols or []) | set(partition_by))
    # column mapping is table metadata: appends write files under the
    # table's PHYSICAL names (overwrite re-shapes and resets to
    # identity). Captured before staging; the commit loop re-checks it.
    cmap: dict = {}
    if mode == "append":
        head0 = main_versions(table_dir)
        if head0:
            hm = _load_manifest(table_dir, head0[-1])
            cmap = _mapping(hm)
            hs = _manifest_schema(hm)
            if hs is not None:
                # pre-staging twin of the in-loop guard: a new logical
                # column may not take a renamed/dropped PHYSICAL name
                # (staging would collide two columns on the same name)
                head_names = {f.name for f in hs.fields}
                unavailable = (
                    set(cmap.values()) | set(hm.get("retired_columns", []))
                ) - head_names
                for name in df.columns:
                    if name not in head_names and name in unavailable:
                        raise ValueError(
                            f"column name {name!r} is the PHYSICAL name of "
                            "a renamed or dropped column and cannot be "
                            "reused (files still carry it); pick another name"
                        )
    # stage the data ONCE — the commit loop below may rebase, but the
    # bytes never rewrite (manifests don't care what the dir is named)
    token = _uuid.uuid4().hex[:12]
    rel_dir = os.path.join("data", f"tx-{token}")
    staging = os.path.join(table_dir, rel_dir)
    enforced: set[str] = set()
    uk_checked_head: tuple | None = None
    built_bloom_for: tuple | None = None
    idx_rel = None
    try:
        _to_physical(df, cmap).write.mode("overwrite").parquet(staging)
        if coalesce_small is None:
            # pruning metadata passed here or inherited from the head
            head = main_versions(table_dir) if mode == "append" else []
            coalesce_small = not (
                _layout_bound(
                    {
                        "partition_by": partition_by,
                        "stats": stats_cols,
                        "bloom_cols": bloom_cols,
                    }
                )
                or (head and _layout_bound(_load_manifest(table_dir, head[-1])))
            )
        new_files, new_meta = _stage_files(
            table_dir, rel_dir, coalesce_small=coalesce_small
        )
        # the gates' input, built by the first gate that runs (a table
        # without expectations or unique keys never pays the re-read)
        gate_df = None
        new_stats = {}
        if stats_cols:
            # stats are keyed by PHYSICAL names (they describe files);
            # readers translate predicates through the manifest mapping
            phys_stat_cols = [cmap.get(c, c) for c in stats_cols]
            for rel in new_files:
                new_stats[rel] = _file_stats(
                    os.path.join(table_dir, rel), phys_stat_cols
                )
        for _attempt in range(20):
            prior = main_versions(table_dir)
            prev = (
                _load_manifest(table_dir, prior[-1])
                if prior and mode == "append"
                else {}
            )
            # Schema is VERSIONED with the log (the Delta model): appends
            # may EVOLVE it additively (new nullable columns; carried old
            # files read as NULL for them) but never drop or retype a
            # column the table has — re-checked after every rebase.
            if prev and _mapping(prev) != cmap:
                # a rename/drop committed between staging and this
                # rebase: the staged bytes carry stale physical names
                raise ValueError(
                    "concurrent column-mapping change during append; "
                    "retry the write"
                )
            prev_schema = _manifest_schema(prev) if prev else None
            if prev_schema is not None:
                prev_names = {f.name for f in prev_schema.fields}
                # physical names still present in data files but not
                # addressable: mapped-away originals + dropped columns
                unavailable = (set(_mapping(prev).values()) | set(
                    prev.get("retired_columns", [])
                )) - prev_names
                new_fields = {f.name: f.dataType for f in df.schema.fields}
                for name in new_fields:
                    if name not in prev_names and name in unavailable:
                        raise ValueError(
                            f"column name {name!r} is the PHYSICAL name of a "
                            "renamed or dropped column and cannot be reused "
                            "(files still carry it); pick another name"
                        )
                for f in prev_schema.fields:
                    if f.name not in new_fields:
                        raise ValueError(
                            f"append drops column {f.name!r}; schema evolution "
                            "is additive-only (use mode='overwrite' to re-shape)"
                        )
                    if new_fields[f.name] != f.dataType:
                        raise ValueError(
                            f"append retypes column {f.name!r} "
                            f"({f.dataType.simpleString()} -> "
                            f"{new_fields[f.name].simpleString()})"
                        )
            effective_exp = {**prev.get("expectations", {}), **(expectations or {})}
            todo = set(effective_exp) - enforced
            if todo:  # heavy scans stay OUTSIDE the claim window
                if gate_df is None:
                    gate_df = _staged_gate_df(df, staging, cmap)
                _enforce_expectations(gate_df, effective_exp)
                enforced |= set(effective_exp)
            # unique-key (PK) gate — inherited like expectations; the
            # vs-table probe is re-run if a rebase moved the head (a
            # racer may have inserted the same key)
            effective_uk = (
                list(unique_keys)
                if unique_keys is not None
                else list(prev.get("unique_keys", []))
            )
            if effective_uk:
                missing_uk = sorted(set(effective_uk) - set(df.columns))
                if missing_uk:
                    raise ValueError(f"unique_keys columns not in data: {missing_uk}")
                head_now = prior[-1] if prior else None
                if uk_checked_head != ("head", head_now):
                    if gate_df is None:
                        gate_df = _staged_gate_df(df, staging, cmap)
                    _enforce_unique(
                        gate_df,
                        table_dir,
                        prev,
                        effective_uk,
                        skip_batch_check=source_unique,
                        # exact staged row count from the parquet
                        # footers — routes wide batches past the
                        # provably-truncating head collect (round-12)
                        batch_rows=sum(
                            m.get("rows", 0) for m in new_meta.values()
                        ),
                    )
                    uk_checked_head = ("head", head_now)
            eff_bloom_cols = sorted(
                set(bloom_cols or []) | set(prev.get("bloom_cols", []))
            )
            if eff_bloom_cols and built_bloom_for != tuple(eff_bloom_cols):
                idx_rel = _write_bloom_index(
                    df.sparkSession,
                    table_dir,
                    new_files,
                    eff_bloom_cols,
                    new_meta,
                    f"tx-{token}",
                )
                built_bloom_for = tuple(eff_bloom_cols)
            v = _claim_version(table_dir, versions(table_dir))
            _await_predecessors(table_dir, v)
            if main_versions(table_dir) != prior:
                _release_claim(table_dir, v)  # rebase onto the new head
                continue
            if prev:
                carried = prev["files"]
                stats = {**prev.get("stats", {}), **new_stats}
                file_meta = {**prev.get("file_meta", {}), **new_meta}
            else:
                carried, stats, file_meta = [], dict(new_stats), dict(new_meta)
            manifest = {
                "version": v,
                "mode": mode,
                "files": carried + new_files,
                "stats": stats,
                "file_meta": file_meta,
                "schema": json.loads(df.schema.json()),
                "expectations": effective_exp,
                # always explicit here ([] = no/cleared spec) — a
                # write_version commit is authoritative for the spec,
                # while rewrite committers omit the key and
                # _commit_manifest carries the table's spec forward
                "partition_by": list(partition_by or []),
                "unique_keys": effective_uk,
                # explicit (even {}/[]): an overwrite CLEARS the mapping
                # and the retired-name ledger (it re-shapes the table,
                # new files ARE the physical truth); appends carry both
                "column_mapping": cmap,
                "retired_columns": (
                    list(prev.get("retired_columns", [])) if prev else []
                ),
            }
            if eff_bloom_cols:
                manifest["bloom_cols"] = eff_bloom_cols
                indexes = list(prev.get("bloom_indexes", [])) if prev else []
                if idx_rel:
                    indexes.append(idx_rel)
                if indexes:
                    manifest["bloom_indexes"] = indexes
            if prev.get("dv"):
                # appends carry the deletion vector BY NAME: old files
                # keep their deletes, new files have none
                manifest["dv"] = prev["dv"]
                manifest["dv_rows"] = prev.get("dv_rows", 0)
            if batch_id is not None:
                manifest["batch_id"] = batch_id
            _commit_manifest(table_dir, v, manifest)
            return v
        raise RuntimeError(
            f"write_version: lost the commit race 20 times on {table_dir}"
        )
    except (ValueError, RuntimeError):
        # refused commit (schema/expectations/race): remove the staged
        # bytes rather than leaving them for the TTL sweep
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        if idx_rel:
            shutil.rmtree(os.path.join(table_dir, idx_rel), ignore_errors=True)
        raise


def _claim_version(table_dir: str, prior: list[int]) -> int:
    """O_EXCL-claim the next free version number (see write_version's
    concurrency contract)."""
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    v = (prior[-1] + 1) if prior else 1
    while True:
        if os.path.exists(os.path.join(mdir, f"v{v}.json")):
            v += 1
            continue
        try:
            with open(os.path.join(mdir, f".claim-v{v}"), "x"):
                break
        except FileExistsError:
            v += 1
    return v


_CARRIED_PROPS = (
    "partition_by",
    "unique_keys",
    "column_mapping",
    "retired_columns",
)


def _commit_manifest(table_dir: str, v: int, manifest: dict) -> None:
    """Atomic manifest publish + claim release — THE commit point.

    Table-level properties ride every commit: a manifest that does not
    SET a carried property (every rewrite/maintenance committer)
    inherits the main head's value, so declared partitioning and
    unique-key constraints survive delete/update/merge/compact/restore
    — only write_version sets them explicitly (authoritative
    declare/evolve/clear)."""
    missing = [p for p in _CARRIED_PROPS if p not in manifest]
    if missing:
        prior = [pv for pv in main_versions(table_dir) if pv != v]
        if prior:
            head = _load_manifest(table_dir, prior[-1])
            for prop in missing:
                val = head.get(prop)
                if val:
                    manifest[prop] = val
    mdir = _manifest_dir(table_dir)
    tmp = os.path.join(mdir, f".tmp-v{v}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(mdir, f"v{v}.json"))  # atomic commit
    # advance the main-line checkpoint BEFORE releasing the claim, so
    # waiters on this claim see the idx already holding v.
    # Batch-id keys are lane-namespaced: branch sinks run their own
    # batch counters, so their replay tokens must never shadow main's.
    bid = manifest.get("batch_id")
    batch_key = None
    if bid is not None:
        branch = manifest.get("branch")
        batch_key = f"branch:{branch}:{bid}" if branch else str(bid)
    _update_main_idx(
        table_dir,
        v,
        is_main="branch" not in manifest,
        batch_key=batch_key,
    )
    os.remove(os.path.join(mdir, f".claim-v{v}"))


def _release_claim(table_dir: str, v: int) -> None:
    """Abandon a claimed-but-uncommitted version (optimistic-conflict
    loser). The number may be reused by a later claimant — no committed
    manifest ever referenced it, so no reader can confuse the two."""
    try:
        os.remove(os.path.join(_manifest_dir(table_dir), f".claim-v{v}"))
    except FileNotFoundError:
        pass


# --- bloom filter index (point-lookup file skipping) -----------------
#
# min/max stats prune RANGE predicates but are useless for point
# lookups on high-cardinality keys (every file's [min,max] spans the
# probe). The classic fix is a per-file BLOOM FILTER (Parquet bloom
# pages / Iceberg puffin blooms): k hash probes against an m-bit set
# answer "definitely absent" with zero data I/O. The flagship consumer
# is `delete_keys` — the GDPR delete-by-id — which prunes its
# affected-file scan to the files that MAY hold a requested key.
#
# Two decisions matter at 100 TB (both probed in scale_probe --lake):
# - SIZE ADAPTIVELY: a fixed small m saturates the moment files carry
#   more keys than it was sized for (an always-1 bitmap prunes
#   nothing). m is chosen per commit as ~12 bits per row of the
#   commit's largest new file (power of two, clamped) — ~0.7% FPR at
#   k=4 regardless of file size.
# - SIDECAR, NOT INLINE: bitmaps live in parquet INDEX datasets under
#   ``bloom/v<N>/`` (rows: f, col, m, k, bits BINARY), built on the
#   driver for a commit of <= _BLOOM_DRIVER_ROWS_MAX staged rows and
#   executor-side above it; the manifest stores only the column list
#   and the LIST of index datasets (each commit appends one covering
#   its new files — the Iceberg manifest-list shape). Commit cost is
#   O(new files); nothing is rewritten; stale entries for files no
#   snapshot lists anymore are dead weight until vacuum sweeps their
#   index, never a correctness issue.
#
# Hashing is engine-portable and builder==prober by construction: the
# contract is written down once, in _bloom_value_expr (the value's
# spelling), _bloom_words (its k md5 words, Python) and
# _bloom_positions_expr (the same words % m, JVM).

_BLOOM_K = 4  # hash probes
# Distributed zone+bloom probes pay several fixed Spark jobs (sidecar
# scan + digest pass + verdict collect, ~1-2s); a table with fewer
# files than this, or whose candidate files total fewer BYTES than
# _PROBE_MIN_BYTES, is cheaper to scan outright (the probe's best case
# saves < its own cost — round-11 profile: a 32-file KB-scale labels
# table paid 1.6s of probe to avoid a sub-second scan). At 100 TB
# candidate sets are GBs, so both gates always pass there. Driver-side
# probes stay unguarded — they run no Spark job.
_PROBE_MIN_FILES = 8
_PROBE_MIN_BYTES = 64 << 20


def _probe_worthwhile(prev: dict) -> bool:
    """Is the distributed zone+bloom probe worth its fixed jobs for
    this snapshot? Files without recorded sizes count as unknown-big
    (probe). Semantics-free: both answers are correct — False just
    selects the always-correct full affected-file scan."""
    files = prev.get("files", [])
    if len(files) < _PROBE_MIN_FILES:
        return False
    fm = prev.get("file_meta", {})
    total = 0
    for rel in files:
        b = fm.get(rel, {}).get("bytes")
        if b is None:
            return True
        total += b
    return total >= _PROBE_MIN_BYTES
_BLOOM_MIN_M = 2048  # floor: tiny files still get a real bitmap
# Bloom builder switch: a commit of at most this many staged rows
# (~1-2 MB of keys) builds its sidecar on the driver; a larger one
# builds it distributed (see _write_bloom_index).
_BLOOM_DRIVER_ROWS_MAX = 1 << 16
_BLOOM_MAX_M = 1 << 22  # cap: 512 KiB bitmap per file-column
_BLOOM_BITS_PER_ROW = 12
# driver-side probe path: collect the key set and test every sidecar
# bitmap on the driver — right for a point/GDPR batch, wrong for a
# wide CDC source (the sidecars alone are GBs at 100 TB)
_BLOOM_DRIVER_KEYS_MAX = 1024
# distributed probe path (select_files_keys): digests + sorted raw
# keys broadcast to executors; ~24 MB at this cap. Above it the probe
# declines: a >1e6-key batch against a range-laid-out table is better
# served by partition/zone pruning alone, and the zone stage below is
# what carries the pruning power at that width anyway.
_BLOOM_DIST_KEYS_MAX = 1_000_000


def _bloom_m_for(rows_max: int) -> int:
    m = _BLOOM_MIN_M
    while m < min(_BLOOM_BITS_PER_ROW * max(1, rows_max), _BLOOM_MAX_M):
        m <<= 1
    return m


def _bloom_value_expr(cols: list[str]):
    """THE bloom hashing contract's value expression — used verbatim at
    BUILD time (over the file's PHYSICAL columns) and at PROBE time
    (over the source's LOGICAL columns in the same spec order), so
    builder == prober by construction, with no pandas-repr divergence:
    - single column: CAST(x AS STRING) (the round-10 contract,
      unchanged — existing indexes stay valid);
    - composite key (round-11): sha2 of a NULL-PRESERVING to_json of
      the key struct with POSITIONAL field names k0..kn — positional
      because build sees physical names and probe sees logical names,
      and a rename must not change the JSON text; null-preserving
      (ignoreNullFields=false) because the merge's struct join treats
      NULL==NULL as a match, so NULL-keyed rows must be IN the bloom
      (unlike the single-column builder, which skips NULLs)."""
    if len(cols) == 1:
        return F.col(cols[0]).cast("string")
    return F.sha2(
        F.to_json(
            F.struct(*[F.col(c).alias(f"k{i}") for i, c in enumerate(cols)]),
            {"ignoreNullFields": "false"},
        ),
        256,
    )


def _bloom_words(value, k: int) -> list[int]:
    """THE bloom hashing kernel, Python side: the k md5 words of one
    bloom value, word i = int(md5("{i}:" + str(value))[:8 hex], 16);
    bit position i = word i % m. ``value`` is a _bloom_value_expr
    string or an int/string key whose str() spells it the same way.
    Every Python builder and prober hashes through here."""
    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16)
        for i in range(k)
    ]


def _bloom_positions_expr(val, m: int, k: int) -> list:
    """JVM twin of _bloom_words (codegen md5 + conv — same "{i}:"
    prefix, same first-8-hex-chars word): the k bit positions word % m
    of the bloom value column ``val``. NULL in, NULL out."""
    return [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), val).cast("binary")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m
        ).cast("int")
        for i in range(k)
    ]


def _bloom_spec_for(manifest: dict, key_cols: list[str]):
    """Find the manifest bloom spec covering ``key_cols`` (LOGICAL
    names). Specs store PHYSICAL names ("a" or composite "a,b" —
    comma-joined, order significant: it fixes the k0..kn positions of
    the hashing contract). Returns (spec, spec-ordered logical cols)
    or None."""
    mapping = _mapping(manifest)
    inv = {v: k for k, v in mapping.items()}
    phys = {mapping.get(c, c) for c in key_cols}
    for spec in manifest.get("bloom_cols", []):
        parts = spec.split(",")
        if len(parts) == len(key_cols) and set(parts) == phys:
            return spec, [inv.get(p, p) for p in parts]
    return None


def _bloom_arrow_keys(schema, have: list[str]) -> bool:
    """Can the driver builder take ``have``'s bloom values straight
    from pyarrow columns? Only for single-column int/string specs,
    whose Python str() IS the CAST(x AS STRING) spelling; composite
    specs and other dtypes are spelled by JVM expressions (to_json /
    sha2 / CAST) that a Python twin must not guess."""
    import pyarrow as pa

    for spec in have:
        idx = schema.get_field_index(spec)
        if "," in spec or idx < 0:
            return False
        t = schema.field(idx).type
        if not (
            pa.types.is_integer(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
        ):
            return False
    return True


def _bloom_build_driver(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    have: list[str],
    schema,
    m: int,
    k: int,
    rel: str,
) -> str:
    """Driver builder for a commit of <= _BLOOM_DRIVER_ROWS_MAX staged
    rows: the sidecar is INDEX metadata over local KB-scale parquet,
    the same driver-metadata discipline as _stage_files /
    _load_bloom_entries. The only branch is where the values come
    from: pyarrow columns when _bloom_arrow_keys allows (zero Spark
    jobs), else ONE collect of _bloom_value_expr over the staged files.
    Either way one fold hashes them through _bloom_words, skipping
    NULL values and emitting a (file, spec) bitmap only when it saw a
    non-NULL value — the distributed builder's rules exactly."""
    import pyarrow.parquet as pq

    vals: dict[tuple[str, str], list] = {}
    if _bloom_arrow_keys(schema, have):
        for f in rels:
            tbl = pq.read_table(os.path.join(table_dir, f), columns=list(have))
            for spec in have:
                vals[(f, spec)] = tbl.column(spec).to_pylist()
    else:
        sel = _pinned_parquet_read(
            spark, [os.path.join(table_dir, r) for r in rels]
        ).select(
            _file_rel_expr(table_dir).alias("__f"),
            *[
                _bloom_value_expr(spec.split(",")).alias(f"v{j}")
                for j, spec in enumerate(have)
            ],
        )
        for row in sel.collect():
            for j, spec in enumerate(have):
                vals.setdefault((row["__f"], spec), []).append(row[f"v{j}"])
    entries = []
    for (f, spec), vs in vals.items():
        buf = bytearray(m // 8)
        seen = False
        for v in vs:
            if v is None:
                continue
            seen = True
            for w in _bloom_words(v, k):
                pos = w % m
                buf[pos >> 3] |= 1 << (pos & 7)
        if seen:
            entries.append((f, spec, bytes(buf)))
    return _bloom_write_sidecar(table_dir, rel, m, k, entries)


def _bloom_write_sidecar(
    table_dir: str, rel: str, m: int, k: int, entries: list[tuple]
) -> str:
    """Write (f, col, m, k, bits) sidecar rows driver-side (pyarrow) —
    the driver builder's output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirp = os.path.join(table_dir, rel)
    os.makedirs(dirp, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "f": pa.array([e[0] for e in entries], pa.string()),
                "col": pa.array([e[1] for e in entries], pa.string()),
                "m": pa.array([m] * len(entries), pa.int32()),
                "k": pa.array([k] * len(entries), pa.int32()),
                "bits": pa.array([e[2] for e in entries], pa.binary()),
            }
        ),
        os.path.join(dirp, "part-00000.parquet"),
    )
    return rel


def _bloom_build_distributed(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    have: list[str],
    m: int,
    k: int,
    rel: str,
) -> str:
    """Distributed builder for a commit above _BLOOM_DRIVER_ROWS_MAX
    staged rows: one column-pruned pass whose k bit positions per row
    are computed IN THE JVM (_bloom_positions_expr), so the Python
    boundary carries only (file, col, p0..pk) ints and the mapInPandas
    fold is a vectorized numpy scatter — no per-row Python hashing
    (guide §4), the term that dominates at 100 TB. A groupBy(f, col)
    OR-reduce merges per-partition bitmaps; only bitmap-sized rows
    ever shuffle."""
    import pandas as pd

    mb = m // 8
    src = _pinned_parquet_read(
        spark, [os.path.join(table_dir, r) for r in rels]
    )
    # long format: one row per input row per covered spec, k FLAT int
    # position columns (no per-row arrays — Arrow ships plain int32
    # vectors, the fold reads whole columns). NULL-keyed rows drop
    # exactly like the driver fold's NULL skip (concat/md5 propagate
    # NULL, so p0 is NULL iff the value was).
    per_spec = [
        F.struct(
            F.lit(spec).alias("col"),
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(
                    _bloom_positions_expr(_bloom_value_expr(spec.split(",")), m, k)
                )
            ],
        )
        for spec in have
    ]
    df = (
        src.select(
            _file_rel_expr(table_dir).alias("__f"),
            F.explode(F.array(*per_spec)).alias("e"),
        )
        .select("__f", "e.*")
        .where(F.col("p0").isNotNull())
    )

    def fold(batches):
        import numpy as np

        acc: dict[tuple[str, str], "np.ndarray"] = {}
        for pdf in batches:
            for (f, c), sub in pdf.groupby(["__f", "col"], sort=False):
                buf = acc.get((f, c))
                if buf is None:
                    buf = acc[(f, c)] = np.zeros(mb, dtype=np.uint8)
                pos = np.concatenate(
                    [sub[f"p{i}"].to_numpy(np.int64) for i in range(k)]
                )
                np.bitwise_or.at(
                    buf,
                    pos >> 3,
                    np.left_shift(1, pos & 7).astype(np.uint8),
                )
        out = [(f, c, b.tobytes()) for (f, c), b in acc.items()]
        yield pd.DataFrame(out, columns=["f", "col", "bits"])

    def orred(pdf):
        import numpy as np

        arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bits"]]
        out = arrs[0].copy()
        for a in arrs[1:]:
            out |= a
        return pd.DataFrame(
            [(pdf["f"].iloc[0], pdf["col"].iloc[0], out.tobytes())],
            columns=["f", "col", "bits"],
        )

    agg = (
        df.mapInPandas(fold, "f string, col string, bits binary")
        .groupBy("f", "col")
        .applyInPandas(orred, "f string, col string, bits binary")
        .select(
            "f", "col", F.lit(m).alias("m"), F.lit(k).alias("k"), "bits"
        )
    )
    agg.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
    return rel


def _write_bloom_index(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    cols: list[str],
    new_meta: dict,
    name,
) -> str | None:
    """Build per-(file, column) bloom bitmaps for the given NEW files
    and write them as the commit's index dataset ``bloom/<name>/``
    (version number or staging transaction token).

    ``rels`` are the commit's staged parquet FILES as _stage_files
    listed them: one commit, one schema. So the first file's footer,
    read once on the driver, gives both the covered specs and the
    driver builder's dtype check — no schema-inference job (a plain
    spark.read.parquet here cost one per bloom-carrying commit,
    round-12).

    Two builders with one size switch, byte-identical (pinned by
    test_jvm_position_builder_matches_hashlib_reference and
    test_composite_tiny_builder_matches_distributed_fold): total
    staged rows <= _BLOOM_DRIVER_ROWS_MAX build on the driver
    (_bloom_build_driver — a Spark job per KB-scale commit was
    measured at ~1s of pure fixed cost), anything larger distributed
    (_bloom_build_distributed). Returns the index's rel path, or None
    if there is nothing to do."""
    import pyarrow.parquet as pq

    if not rels or not cols:
        return None
    schema = pq.ParquetFile(os.path.join(table_dir, rels[0])).schema_arrow
    names = set(schema.names)
    have = [spec for spec in cols if all(p in names for p in spec.split(","))]
    if not have:
        return None
    rows = [new_meta.get(r, {}).get("rows", 0) for r in rels]
    m, k = _bloom_m_for(max(rows)), _BLOOM_K
    rel = os.path.join("bloom", name if isinstance(name, str) else f"v{name}")
    if sum(rows) <= _BLOOM_DRIVER_ROWS_MAX:
        return _bloom_build_driver(
            spark, table_dir, rels, have, schema, m, k, rel
        )
    return _bloom_build_distributed(spark, table_dir, rels, have, m, k, rel)


def _load_bloom_entries(
    table_dir: str,
    manifest: dict,
    col: str | None = None,
    files: list[str] | None = None,
) -> dict:
    """{(file_rel, col): (m, k, bits)} from the manifest's index list —
    driver-side pyarrow reads, no Spark job. Entries for files the
    snapshot no longer lists are simply ignored by probes.

    ``col``/``files`` (round-11) push SELECTION into the parquet read:
    a point probe needs only its column's bitmaps for its zone-
    surviving files, and loading everything is the difference between
    KBs and GBs of driver I/O at 10k files. The file filter applies
    only to a table's OWN indexes — a shallow clone's borrowed index
    records source-relative `f` spellings that the caller's canonical
    list wouldn't match, so borrowed datasets load column-filtered
    only (clones are the rare case; correctness never depends on the
    filters, they are pure I/O reduction)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    fset = (
        {s for rel in files for s in (rel, os.path.normpath(rel))}
        if files is not None
        else None
    )
    out: dict[tuple[str, str], tuple[int, int, bytes]] = {}
    for idx_rel in manifest.get("bloom_indexes", []):
        path = os.path.join(table_dir, idx_rel)
        if not os.path.isdir(path) and not os.path.isfile(path):
            continue
        # index borrowed from a shallow clone's source: its `f` entries
        # are source-relative — canonicalize to the absolute spelling
        # the clone's manifest uses for borrowed files
        base = (
            os.path.dirname(os.path.dirname(idx_rel))
            if os.path.isabs(idx_rel)
            else None
        )
        flt = None
        if col is not None:
            flt = pc.field("col") == col
        if fset is not None and base is None:
            # typed value set: an EMPTY fset (zone stage pruned every
            # candidate) must read as string-isin-nothing, not a
            # null-typed array that Arrow refuses to compare
            ff = pc.field("f").isin(pa.array(sorted(fset), type=pa.string()))
            flt = ff if flt is None else (flt & ff)
        t = pds.dataset(path, format="parquet").to_table(filter=flt)
        for f, c, m, k, bits in zip(
            t["f"].to_pylist(),
            t["col"].to_pylist(),
            t["m"].to_pylist(),
            t["k"].to_pylist(),
            t["bits"].to_pylist(),
        ):
            key = f if base is None or os.path.isabs(f) else os.path.join(base, f)
            out[(os.path.normpath(key), c)] = (m, k, bits)
    return out


def _bloom_manifest_fields(
    spark: SparkSession,
    table_dir: str,
    prev: dict,
    new_files: list[str],
    new_meta: dict,
    v: int,
) -> dict:
    """Commit fields for inheriting prev's bloom config: carry the
    index list, append a fresh index covering this commit's new files
    (the same discipline stats/file_meta recompute follows)."""
    cols = prev.get("bloom_cols", [])
    if not cols:
        return {}
    out: dict = {"bloom_cols": cols}
    indexes = list(prev.get("bloom_indexes", []))
    if new_files:
        rel = _write_bloom_index(spark, table_dir, new_files, cols, new_meta, v)
        if rel:
            indexes.append(rel)
    if indexes:
        out["bloom_indexes"] = indexes
    return out


def select_files_point(
    table_dir: str, version: int | None, col: str, values: list
) -> tuple[list[str], list[str]]:
    """Index-level POINT-LOOKUP file skipping: split a snapshot's
    files into (candidates, skipped) for ``col IN values`` using the
    per-file blooms PLUS the manifest min/max zones (round-11): each
    file's bitmap is probed with ONLY the values inside its [min,max]
    range — per-value bloom FPR accumulates (a file missing all of n
    values still reads MAYBE with p = 1-(1-fpr)^n, material from
    n ~ 10^2), so on a range-clustered table the zone restriction is
    what keeps mid-size erasure batches pruning at 10^3+ files.
    Files without a bloom for ``col`` are always candidates unless
    their zone excludes every value (skipping is an I/O optimization,
    never a filter: zones are true min/max, blooms have no false
    negatives). Digests are computed ONCE per value (not per file —
    the naive loop is |files| x |values| x k md5 calls) and each
    bitmap is tested with one vectorized numpy gather."""
    import numpy as np

    if version is None:
        version = main_versions(table_dir)[-1]
    manifest = _load_manifest(table_dir, version)
    col = _mapping(manifest).get(col, col)
    # zone stage applies only when EVERY value is integral (a mixed
    # or string value set cannot be ordered against parquet stats
    # portably); values are sorted so each file's in-zone slice is a
    # binary search. Zones run FIRST and from the manifest alone, so
    # the sidecar bitmaps are loaded ONLY for zone-surviving files
    # (the difference between KBs and GBs of driver I/O at 10k files).
    ivals = sorted(
        v for v in values if isinstance(v, int) and not isinstance(v, bool)
    )
    zoned = len(ivals) == len(values)
    ordered = ivals if zoned else list(values)
    RV = np.array(ivals, dtype=np.int64) if zoned else None
    stats = manifest.get("stats", {})
    zone_slice: dict[str, tuple[int, int]] = {}
    cand, skipped, survivors = [], [], []
    for rel in manifest["files"]:
        if RV is not None:
            lohi = stats.get(rel, {}).get(col)
            if (
                lohi
                and isinstance(lohi[0], int)
                and not isinstance(lohi[0], bool)
            ):
                lo = int(np.searchsorted(RV, lohi[0], "left"))
                hi = int(np.searchsorted(RV, lohi[1], "right"))
                if hi <= lo:  # zone excludes every value
                    skipped.append(rel)
                    continue
                zone_slice[rel] = (lo, hi)
        survivors.append(rel)
    entries = _load_bloom_entries(
        table_dir, manifest, col=col, files=survivors
    )
    kmax = max((e[1] for e in entries.values()), default=_BLOOM_K)
    H = np.array(
        [_bloom_words(val, kmax) for val in ordered], dtype=np.int64
    ).reshape(len(ordered), kmax)
    for rel in survivors:
        e = entries.get((os.path.normpath(rel), col))
        if e is not None:
            m, k, bits = e
            lo, hi = zone_slice.get(rel, (0, len(ordered)))
            P = H[lo:hi, :k] % m
            barr = np.frombuffer(bits, dtype=np.uint8)
            if not bool((((barr[P >> 3] >> (P & 7)) & 1).all(axis=1)).any()):
                skipped.append(rel)
                continue
        cand.append(rel)
    return cand, skipped


def select_files_keys(
    spark: SparkSession,
    table_dir: str,
    version: int | None,
    key_cols: list[str],
    keys_sdf: DataFrame,
    manifest: dict | None = None,
) -> tuple[list[str], list[str]] | None:
    """Distributed WIDE-key file skipping (round-11): the twin of
    `select_files_point` for key sets too large to collect — the CDC
    shape, where a merge source against a 100 TB table carries
    10^4..10^6 keys. Two things change vs the driver path:

    - EVERYTHING STAYS DISTRIBUTED: the bloom sidecar datasets are
      read as a DataFrame (never pyarrow'd onto the driver — they are
      GBs at 10k files); key digests are computed executor-side in one
      mapInPandas pass; only per-file MAYBE verdicts (one row per
      file-bitmap) ever reach the driver.
    - A ZONE-MAP STAGE carries the width: per-key bloom FPR
      accumulates — at the index's ~0.64% per-key FPR a file missing
      ALL of n keys still reads MAYBE with p = 1-(1-fpr)^n, ~1 for
      n >= 10^3 — so blooms ALONE cannot prune a wide batch no matter
      how they are probed. Each file's bitmap is therefore probed with
      ONLY the keys inside the file's [min,max] zone (manifest stats,
      integral single-column keys): on a range-clustered table the
      per-file candidate key count stays small and the bloom's
      point-lookup power applies file-locally. Files with stats but no
      bloom are zone-pruned driver-side the same way.

    ``keys_sdf`` carries the DISTINCT probe keys: column ``_kv``
    STRING in the canonical bloom encoding (`_bloom_value_expr`) and,
    for a single integral key, ``_rv`` BIGINT (the raw value, for the
    zone stage). Returns (candidates, skipped) over the snapshot's
    files, or None when the probe cannot engage — no bloom spec for
    the key, a NULL key probing a NULL-skipping single-column bloom,
    or key count above the broadcast cap. Declining is always safe:
    the caller falls back to the full affected-file scan, and pruning
    is an I/O optimization, never a filter (blooms have no false
    negatives; zone bounds are true min/max)."""
    import numpy as np

    if manifest is None:
        if version is None:
            version = main_versions(table_dir)[-1]
        manifest = _load_manifest(table_dir, version)
    specinfo = _bloom_spec_for(manifest, key_cols)
    idx_rels = manifest.get("bloom_indexes", [])
    if specinfo is None or not idx_rels:
        return None
    spec, _spec_logical = specinfo
    single = len(key_cols) == 1

    cnt = keys_sdf.limit(_BLOOM_DIST_KEYS_MAX + 1).count()
    if cnt == 0 or cnt > _BLOOM_DIST_KEYS_MAX:
        return None

    # sidecar datasets as ONE DataFrame; _ord implements the same
    # last-index-wins rule as _load_bloom_entries, _base the shallow-
    # clone borrowed-index canonicalization
    parts = []
    for i, idx_rel in enumerate(idx_rels):
        path = (
            idx_rel
            if os.path.isabs(idx_rel)
            else os.path.join(table_dir, idx_rel)
        )
        if not (os.path.isdir(path) or os.path.isfile(path)):
            continue
        base = (
            os.path.dirname(os.path.dirname(idx_rel))
            if os.path.isabs(idx_rel)
            else ""
        )
        parts.append(
            # sidecar schema is fixed by _bloom_write_sidecar / the
            # distributed fold — pinning skips the per-read schema-
            # inference job (round-12)
            spark.read.schema(
                "f STRING, col STRING, m INT, k INT, bits BINARY"
            )
            .parquet(path)
            .where(F.col("col") == spec)
            .select(
                "f",
                "m",
                "k",
                "bits",
                F.lit(i).alias("_ord"),
                F.lit(base).alias("_base"),
            )
        )
    if not parts:
        return None
    bloom_df = parts[0]
    for p in parts[1:]:
        bloom_df = bloom_df.unionByName(p)
    mks = bloom_df.select("m", "k").distinct().collect()
    if not mks:
        return None
    kmax = max(int(r["k"]) for r in mks)

    # one executor-side pass: md5 digest quad per key (+ raw value);
    # digests are m-independent (pos = digest % m happens at check
    # time), so one pass serves every index generation
    has_raw = single and "_rv" in keys_sdf.columns
    dig_schema = (
        "isnull boolean, "
        + ", ".join(f"h{i} long" for i in range(kmax))
        + (", rv long" if has_raw else "")
    )

    def _digests(batches):
        import pandas as pd

        hcols = [f"h{i}" for i in range(kmax)]
        cols = ["isnull"] + hcols + (["rv"] if has_raw else [])
        for pdf in batches:
            rows = []
            rvs = pdf["_rv"] if has_raw else None
            for j, v in enumerate(pdf["_kv"]):
                if v is None:
                    rows.append(
                        (True,) + (0,) * kmax + ((0,) if has_raw else ())
                    )
                    continue
                tail = (int(rvs.iloc[j]),) if has_raw else ()
                rows.append((False, *_bloom_words(v, kmax), *tail))
            yield pd.DataFrame(rows, columns=cols)

    dig = keys_sdf.mapInPandas(_digests, dig_schema).toPandas()
    if single and bool(dig["isnull"].any()):
        return None  # NULL key vs a NULL-skipping single-column bloom
    H = dig[[f"h{i}" for i in range(kmax)]].to_numpy(dtype=np.int64)
    RV = None
    if has_raw:
        RV = dig["rv"].to_numpy(dtype=np.int64)
        order = np.argsort(RV, kind="stable")
        RV, H = RV[order], H[order]

    # zone bounds per file (physical column, integral stats only)
    bounds: dict[str, tuple[int, int]] = {}
    if RV is not None:
        phys = spec  # single-column spec IS the physical name
        for rel, st in manifest.get("stats", {}).items():
            lohi = st.get(phys)
            if (
                lohi
                and isinstance(lohi[0], int)
                and not isinstance(lohi[0], bool)
            ):
                bounds[os.path.normpath(rel)] = (lohi[0], lohi[1])

    bc = spark.sparkContext.broadcast(
        {"H": H, "RV": RV, "bounds": bounds}
    )

    def _check(batches):
        import os as _os

        import numpy as _np
        import pandas as pd

        D = bc.value
        H_, RV_, BND = D["H"], D["RV"], D["bounds"]
        for pdf in batches:
            out = []
            for f, m, k, bits, ordv, base in zip(
                pdf["f"], pdf["m"], pdf["k"], pdf["bits"], pdf["_ord"], pdf["_base"]
            ):
                canon = _os.path.normpath(
                    f
                    if (not base) or _os.path.isabs(f)
                    else _os.path.join(base, f)
                )
                Hs = H_
                lohi = BND.get(canon) if RV_ is not None else None
                if lohi is not None:
                    lo = _np.searchsorted(RV_, lohi[0], "left")
                    hi = _np.searchsorted(RV_, lohi[1], "right")
                    Hs = H_[lo:hi]
                if Hs.shape[0] == 0:
                    maybe = False  # zone says no key can be in this file
                else:
                    m, k = int(m), int(k)
                    P = Hs[:, :k] % m
                    barr = _np.frombuffer(bits, dtype=_np.uint8)
                    sb = (barr[P >> 3] >> (P & 7)) & 1
                    maybe = bool(sb.all(axis=1).any())
                out.append((canon, int(ordv), maybe))
            yield pd.DataFrame(out, columns=["f", "o", "maybe"])

    try:
        ver_rows = bloom_df.mapInPandas(
            _check, "f string, o int, maybe boolean"
        ).collect()
    finally:
        bc.unpersist()
    verdicts: dict[str, tuple[int, bool]] = {}
    for r in ver_rows:
        cur = verdicts.get(r["f"])
        if cur is None or r["o"] >= cur[0]:
            verdicts[r["f"]] = (r["o"], r["maybe"])

    cand, skipped = [], []
    for rel in manifest["files"]:
        key = os.path.normpath(rel)
        v = verdicts.get(key)
        if v is not None and not v[1]:
            skipped.append(rel)
            continue
        if v is None and RV is not None:
            lohi = bounds.get(key)
            if lohi is not None:  # bloom-less file, zone-prunable
                lo = np.searchsorted(RV, lohi[0], "left")
                hi = np.searchsorted(RV, lohi[1], "right")
                if hi <= lo:
                    skipped.append(rel)
                    continue
        cand.append(rel)
    return cand, skipped


def _keys_probe_df(
    source: DataFrame, cols: list[str], src_dtypes: dict
) -> DataFrame:
    """DISTINCT probe-key frame for select_files_keys: _kv = canonical
    bloom encoding over the SOURCE's logical columns in spec order;
    _rv = raw integral value for the zone stage (single key only)."""
    sels = [_bloom_value_expr(cols).alias("_kv")]
    ints = {"tinyint", "smallint", "int", "bigint"}
    if len(cols) == 1 and src_dtypes.get(cols[0]) in ints:
        sels.append(F.col(cols[0]).cast("long").alias("_rv"))
    return source.select(*sels).distinct()


# --- deletion vectors (merge-on-read deletes) ------------------------
#
# Copy-on-write deletes (`delete_where`) rewrite every file that holds
# a matching row — correct, but at 100 TB a daily erasure batch that
# touches one row in each of 10k files rewrites 10 TB to delete 10k
# rows. The modern answer (Delta deletion vectors / Iceberg v2
# positional deletes) is MERGE-ON-READ: record (file, row_position) of
# deleted rows in a small sidecar dataset and have every reader
# anti-join it; no data file is touched. Readers pay a (usually
# broadcast) anti-join; maintenance folds the vectors back in —
# a full-rewrite `compact()` PURGES them by construction because it
# reads through the DV filter and writes clean files.
#
# Layout: one parquet dataset per DV-bearing version under
# ``dv/v<N>/`` with rows (f: file-relative-path, pos: row_index).
# Appends carry the previous version's DV dataset BY NAME (their new
# files have no deleted rows); rewrite commits drop entries for
# rewritten files and carry the rest. Row positions come from the
# parquet reader's `_metadata.row_index` — stable because data files
# are immutable once committed.


def _file_rel_expr(table_dir: str):
    """Column: each row's data-file path as the manifest records it —
    table-RELATIVE for files under the table root, ABSOLUTE for files a
    shallow clone references in its source table (join() resolves both
    transparently, so one expression serves every tagged read)."""
    root = os.path.abspath(table_dir)
    return F.expr(
        f"CASE WHEN instr(_metadata.file_path, '{root}/') > 0 "
        f"THEN substring(_metadata.file_path, "
        f"instr(_metadata.file_path, '{root}/') + {len(root) + 1}) "
        f"ELSE regexp_replace(_metadata.file_path, '^file:/+', '/') END"
    )


def _dv_df(spark: SparkSession, table_dir: str, manifest: dict):
    rel = manifest.get("dv")
    if not rel:
        return None
    # DV datasets are always (f, pos) — pinned read, no inference job
    df = spark.read.schema("f STRING, pos BIGINT").parquet(
        os.path.join(table_dir, rel)
    )
    if os.path.isabs(rel):
        # sidecar borrowed from a shallow clone's SOURCE table: its
        # `f` entries are source-relative — canonicalize to the
        # absolute spelling `_file_rel_expr` produces for borrowed
        # files so anti-joins and carries line up
        src_root = os.path.dirname(os.path.dirname(rel))
        df = df.select(
            F.when(F.col("f").startswith("/"), F.col("f"))
            .otherwise(F.concat(F.lit(src_root + "/"), F.col("f")))
            .alias("f"),
            "pos",
        )
    return df


def _read_physical(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    rels: list[str],
    tag: bool = True,
) -> tuple[DataFrame, list[str]]:
    """THE raw-scan read path for every merge-on-read site (delete/
    update MOR, CDC DV-delta, the tagged live read): read the given
    data files with the manifest's PHYSICAL schema pinned, project
    physical file columns to the manifest's logical names IN THE SAME
    SELECT that taps ``_metadata`` (files carry immutable physical
    names under column mapping; a logical-schema scan would read a
    renamed column as NULL), and — with ``tag=True`` — mark each row
    with its manifest-relative file path ``__f`` and row position
    ``__pos`` (``tag=False`` is the plain pinned-physical read with
    logical projection, no ``_metadata`` tap). Returns
    ``(df, logical_column_names)``. Centralized so no site hand-rolls
    the physical->logical alias convention — the round-8
    MOR-on-renamed-column bug class exists exactly when one does."""
    schema = _manifest_schema(manifest)
    mp = _mapping(manifest)
    phys = _physical_schema(manifest)
    reader = spark.read.schema(phys) if phys is not None else spark.read
    raw = reader.parquet(*[os.path.join(table_dir, rel) for rel in rels])
    if mp and schema is not None:
        proj = [
            F.col(mp.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        cols = [f.name for f in schema.fields]
    else:
        proj = [F.col(c) for c in raw.columns]
        cols = list(raw.columns)
    if not tag:
        return (raw.select(*proj) if mp else raw), cols
    tagged = raw.select(
        *proj,
        _file_rel_expr(table_dir).alias("__f"),
        F.col("_metadata.row_index").cast("bigint").alias("__pos"),
    )
    return tagged, cols


def _live_rows(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    rels: list[str],
    with_file: bool = False,
) -> DataFrame:
    """Read the given files of a snapshot with its deletion vector
    applied (the merge-on-read read path). ``with_file=True`` keeps a
    ``__f`` column carrying each row's file-relative path — the
    DV-safe replacement for input_file_name() in affected-file scans.
    Tables without a DV read exactly as before (plus the manifest-
    pinned schema); the anti-join only exists when deletes do."""
    schema = _manifest_schema(manifest)
    if not rels:
        # a delete can legitimately empty the snapshot: zero files,
        # schema still pinned by the manifest
        if schema is None:
            raise ValueError(
                "snapshot has no files and no pinned schema; cannot read"
            )
        empty = spark.createDataFrame([], schema)
        return (
            empty.withColumn("__f", F.lit(None).cast("string"))
            if with_file
            else empty
        )
    dv = _dv_df(spark, table_dir, manifest)
    if dv is None and not with_file:
        # fast path: no _metadata tap, no anti-join — just the pinned
        # physical read projected to logical names
        df, _cols = _read_physical(
            spark, table_dir, manifest, rels, tag=False
        )
        return df
    tagged, cols = _read_physical(spark, table_dir, manifest, rels)
    if dv is not None:
        dvr = dv.select(F.col("f").alias("__f"), F.col("pos").alias("__pos"))
        tagged = tagged.join(dvr, ["__f", "__pos"], "left_anti")
    return tagged.select(*cols, "__f") if with_file else tagged.select(*cols)


def _carry_dv(
    spark: SparkSession,
    table_dir: str,
    prev: dict,
    untouched: list[str],
    v: int,
) -> tuple[str | None, int]:
    """Rewrite-commit DV maintenance: entries for rewritten files fold
    into the clean rewrite (they were filtered out by `_live_rows`),
    entries for carried files persist into a fresh dataset for the new
    version. Returns (dv_rel or None, dv_row_count)."""
    dv = _dv_df(spark, table_dir, prev)
    if dv is None:
        return None, 0
    keep = dv.where(F.col("f").isin([os.path.normpath(r) for r in untouched]))
    n = keep.count()
    if n == 0:
        return None, 0
    rel = os.path.join("dv", f"v{v}")
    keep.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
    return rel, n


def _await_predecessors(
    table_dir: str, v: int, stale_after: float = 600.0, timeout: float = 15.0
) -> None:
    """Commit-order serialization: block until every LOWER-numbered
    live claim is released (its committer removes it after publishing
    the manifest and advancing main.idx.json). With this wait in front of
    every committer's base check, commit order equals claim order, so
    the base check is authoritative and no concurrent commit can be
    silently dropped from forward history (the residual check-to-
    publish window closes). A claim older than ``stale_after`` is a
    crashed writer — its number stays a hole and nobody waits for it;
    hitting ``timeout`` degrades to the plain optimistic check rather
    than deadlocking behind a stuck-but-alive writer — safe, because
    every committer ALSO re-checks its base immediately before the
    manifest publish and aborts/retries if it moved."""
    import time as _time

    mdir = _manifest_dir(table_dir)
    deadline = _time.time() + timeout
    while _time.time() < deadline:
        pending = False
        try:
            names = os.listdir(mdir)
        except FileNotFoundError:
            return
        for name in names:
            mm = re.match(r"^\.claim-v(\d+)$", name)
            if not mm or int(mm.group(1)) >= v:
                continue
            # a published manifest is not enough: its committer still
            # rewrites main.idx.json before releasing the claim, and two
            # idx rewrites at once lose one update (or one's replace)
            try:
                age = _time.time() - os.path.getmtime(os.path.join(mdir, name))
            except FileNotFoundError:
                continue  # released between listdir and stat
            if age > stale_after:
                continue  # crashed writer: permanent hole
            pending = True
            break
        if not pending:
            return
        _time.sleep(0.01)


def delete_where_mor(
    spark: SparkSession, table_dir: str, condition: str
) -> int:
    """Merge-on-read DELETE: commit a new snapshot in which every row
    matching ``condition`` is gone — WITHOUT rewriting any data file.
    One scan finds matching (file, row_position) pairs; they merge
    into the table's deletion vector; the new manifest carries the
    SAME file list plus the new DV. Every reader (`read_version`,
    `read_changes`, the CoW maintenance ops, `count_rows`) applies the
    vector; a later full `compact()` folds it into clean files and
    drops it. NULL-valued conditions keep the row (SQL DELETE
    semantics), and rows already deleted dedupe away. Same
    optimistic-conflict retry discipline as delete_where."""
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to delete from")
        prev = _load_manifest(table_dir, prior[-1])
        cond = F.expr(condition)
        # positions come from the raw read (pre-anti-join): re-deleting
        # an already-deleted row is a distinct() no-op. The condition
        # speaks LOGICAL names; _read_physical owns the translation.
        tagged, _cols = _read_physical(
            spark, table_dir, prev, prev["files"]
        )
        matches = (
            tagged.where(F.coalesce(cond, F.lit(False)))
            .selectExpr("__f AS f", "__pos AS pos")
        )
        old_dv = _dv_df(spark, table_dir, prev)
        new_dv = (
            matches.unionByName(old_dv).distinct()
            if old_dv is not None
            else matches.distinct()
        )
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        dv_rel = os.path.join("dv", f"v{v}")
        new_dv.write.mode("overwrite").parquet(os.path.join(table_dir, dv_rel))
        # count from the written footers (metadata-only) — also the
        # empty-vector guard: a no-match delete on a vector-less table
        # writes an EMPTY dataset, which must not become a `dv` entry
        # (an empty parquet dir cannot even be re-read without a schema)
        _dv_files, _dv_meta = _stage_files(table_dir, dv_rel)
        dv_rows = sum(m["rows"] for m in _dv_meta.values())
        manifest = {
            "version": v,
            "mode": "delete",
            "condition": condition,
            "files": list(prev["files"]),
            "stats": prev.get("stats", {}),
            "file_meta": prev.get("file_meta", {}),
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "rewrote": 0,
            "carried": len(prev["files"]),
        }
        if dv_rows:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        if prev.get("bloom_cols"):
            manifest["bloom_cols"] = prev["bloom_cols"]
            if prev.get("bloom_indexes"):
                manifest["bloom_indexes"] = prev["bloom_indexes"]
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"delete_where_mor: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def delete_where(spark: SparkSession, table_dir: str, condition: str) -> int:
    """Targeted DELETE (the right-to-be-forgotten / retention op):
    commit a new snapshot in which every row matching ``condition`` is
    gone, rewriting ONLY the data files that contain matching rows.

    Scale shape (the Delta/Iceberg DELETE plan):
    1. one distributed scan of the current snapshot finds the AFFECTED
       files (`input_file_name()` of matching rows) — predicate
       pushdown prunes the scan, and manifest stats could pre-prune it
       further for range predicates;
    2. only affected files are re-read and rewritten without the
       matching rows (keep-filter = NOT coalesce(cond, FALSE), so
       NULL-valued conditions KEEP the row — SQL DELETE semantics);
    3. untouched files are carried into the new manifest BY NAME —
       zero I/O for them, their bytes are shared with prior snapshots;
    4. the atomic manifest replace publishes the delete; prior
       versions still time-travel to the pre-delete data (retention/
       VACUUM decides when rows are physically unrecoverable).

    Returns the committed version. A condition matching nothing
    commits a new version carrying the old file list verbatim.

    Concurrency: the affected-file scan is long, so a concurrent
    append can commit a newer version mid-scan; building the delete
    from the manifest that was latest AT ENTRY would silently drop
    that commit from forward history. After claiming a version this
    re-checks that the manifest it scanned is still the latest and
    retries the whole scan otherwise (optimistic conflict, the Delta
    DELETE retry loop). A commit landing in the narrow window between
    the re-check and the manifest publish can still be shadowed —
    full serializability needs a lock service this file-only log
    deliberately omits.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    root = os.path.abspath(table_dir)
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to delete from")
        prev = _load_manifest(table_dir, prior[-1])
        cond = F.expr(condition)
        # the tagged live read carries each row's file-RELATIVE path
        # (exact normalized comparison — suffix matching would alias
        # same-named files across versions) and applies any deletion
        # vector, so DV-erased rows can neither mark a file affected
        # nor resurrect in the rewrite.
        live = _live_rows(spark, table_dir, prev, prev["files"], with_file=True)
        affected_rel = {
            os.path.normpath(r["__f"])
            for r in live.where(cond).select("__f").distinct().collect()
        }

        untouched = [
            rel for rel in prev["files"] if os.path.normpath(rel) not in affected_rel
        ]
        affected = [
            rel for rel in prev["files"] if os.path.normpath(rel) in affected_rel
        ]

        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)  # newer commit landed mid-scan
            continue
        new_files: list[str] = []
        new_meta: dict = {}
        if affected:
            keep = _live_rows(spark, table_dir, prev, affected).where(
                ~F.coalesce(cond, F.lit(False))
            )
            rel_dir = os.path.join("data", f"v{v}")
            staging = os.path.join(table_dir, rel_dir)
            _to_physical(keep, _mapping(prev)).write.mode(
                "overwrite"
            ).parquet(staging)
            new_files, new_meta = _stage_files(
                table_dir, rel_dir, coalesce_small=not _layout_bound(prev)
            )
        stats = {
            rel: s for rel, s in prev.get("stats", {}).items() if rel in set(untouched)
        }
        # rewritten files keep the table's file-skipping power: recompute
        # min/max over the same column set the prior manifest tracked
        prev_stat_cols = sorted({c for st in prev.get("stats", {}).values() for c in st})
        if prev_stat_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), prev_stat_cols)
        file_meta = {
            **{
                rel: m
                for rel, m in prev.get("file_meta", {}).items()
                if rel in set(untouched)
            },
            **new_meta,
        }
        manifest = {
            "version": v,
            "mode": "delete",
            "condition": condition,
            "files": untouched + new_files,
            "stats": stats,
            "file_meta": file_meta,
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "rewrote": len(affected),
            "carried": len(untouched),
        }
        manifest.update(
            _bloom_manifest_fields(spark, table_dir, prev, new_files, file_meta, v)
        )
        dv_rel, dv_rows = _carry_dv(spark, table_dir, prev, untouched, v)
        if dv_rel:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"delete_where: lost the optimistic-conflict race 4 times on {table_dir}; "
        "a writer is appending faster than the delete can scan"
    )


def delete_keys(
    spark: SparkSession, table_dir: str, col: str, values: list
) -> int:
    """Point-delete by key — the GDPR erasure-request fast path.
    Semantically ``delete_where(f"{col} IN (...)")``, but the
    affected-file scan is PRE-PRUNED by the manifest blooms
    (`select_files_point`): only files whose bloom says MAYBE for some
    requested key are opened at all. On a 100 TB table with blooms on
    the id column, a thousand-key erasure batch touches the handful of
    files that can hold those keys instead of scanning every file —
    the difference between a maintenance query and a table scan.
    Files without blooms stay candidates (pruning is never a filter),
    so the op is correct on tables that never enabled blooms — it just
    degrades to delete_where's full scan. Integer/string keys only
    (the bloom hashing contract). Same optimistic-conflict retry and
    atomic manifest publish as delete_where; records the IN-list
    condition in the manifest for `history`."""
    if not values:
        raise ValueError("delete_keys: empty key list")
    vset = set(values)
    condition = f"{col} IN ({', '.join(repr(v) for v in sorted(vset))})"
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to delete from")
        prev = _load_manifest(table_dir, prior[-1])
        if (
            len(vset) > _BLOOM_DRIVER_KEYS_MAX
            and not _probe_worthwhile(prev)
        ):
            # wide batch over a handful of files (or KB-scale bytes):
            # the probe job costs more than scanning them — full
            # affected-file scan
            candidates, _pruned = list(prev["files"]), []
        elif len(vset) > _BLOOM_DRIVER_KEYS_MAX:
            # wide erasure batch: distributed zone+bloom probe — the
            # sidecar bitmaps never land on the driver (select_files_
            # keys), and zone restriction keeps per-file probe sets
            # small where accumulated bloom FPR would otherwise read
            # every file as MAYBE
            _ints = all(
                isinstance(v, int) and not isinstance(v, bool) for v in vset
            )
            _typ = "bigint" if _ints else "string"
            kdf = spark.createDataFrame(
                [(v,) for v in sorted(vset)], f"_v {_typ}"
            ).select(
                F.col("_v").cast("string").alias("_kv"),
                *([F.col("_v").cast("long").alias("_rv")] if _ints else []),
            )
            res = select_files_keys(
                spark, table_dir, prior[-1], [col], kdf, manifest=prev
            )
            candidates, _pruned = (
                res if res is not None else (list(prev["files"]), [])
            )
        else:
            candidates, _pruned = select_files_point(
                table_dir, prior[-1], col, sorted(vset)
            )
        affected_rel: set[str] = set()
        if candidates:
            cand_df = _live_rows(
                spark, table_dir, prev, candidates, with_file=True
            )
            affected_rel = {
                os.path.normpath(r["__f"])
                for r in cand_df.where(F.col(col).isin(list(vset)))
                .select("__f")
                .distinct()
                .collect()
            }
        untouched = [
            rel for rel in prev["files"] if os.path.normpath(rel) not in affected_rel
        ]
        affected = [
            rel for rel in prev["files"] if os.path.normpath(rel) in affected_rel
        ]
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        new_files: list[str] = []
        new_meta: dict = {}
        if affected:
            keep = _live_rows(spark, table_dir, prev, affected).where(
                ~F.col(col).isin(list(vset))
            )
            rel_dir = os.path.join("data", f"v{v}")
            _to_physical(keep, _mapping(prev)).write.mode(
                "overwrite"
            ).parquet(os.path.join(table_dir, rel_dir))
            new_files, new_meta = _stage_files(
                table_dir, rel_dir, coalesce_small=not _layout_bound(prev)
            )
        stats = {
            rel: s for rel, s in prev.get("stats", {}).items() if rel in set(untouched)
        }
        prev_stat_cols = sorted({c for st in prev.get("stats", {}).values() for c in st})
        if prev_stat_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), prev_stat_cols)
        file_meta = {
            **{
                rel: m
                for rel, m in prev.get("file_meta", {}).items()
                if rel in set(untouched)
            },
            **new_meta,
        }
        manifest = {
            "version": v,
            "mode": "delete",
            "condition": condition,
            "files": untouched + new_files,
            "stats": stats,
            "file_meta": file_meta,
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "rewrote": len(affected),
            "carried": len(untouched),
            "bloom_pruned": len(_pruned),
        }
        manifest.update(
            _bloom_manifest_fields(spark, table_dir, prev, new_files, file_meta, v)
        )
        dv_rel, dv_rows = _carry_dv(spark, table_dir, prev, untouched, v)
        if dv_rel:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"delete_keys: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def _apply_assignments(df: DataFrame, condition: str, assignments: dict) -> DataFrame:
    """SQL UPDATE row semantics: for rows matching ``condition`` each
    assigned column becomes its SET expression (evaluated against the
    PRE-update row, as SQL does — all right-hand sides see old values);
    non-matching rows pass through unchanged. NULL conditions do not
    match."""
    cond = F.coalesce(F.expr(condition), F.lit(False))
    cols = df.columns
    news = {c: F.expr(e) for c, e in assignments.items()}
    return df.select(
        *[
            (
                F.when(cond, news[c]).otherwise(F.col(c)).cast(df.schema[c].dataType).alias(c)
                if c in news
                else F.col(c)
            )
            for c in cols
        ]
    )


def update_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """Copy-on-write UPDATE (the Delta UPDATE plan): commit a new
    snapshot where every row matching ``condition`` has each column in
    ``assignments`` replaced by its SET expression (right-hand sides
    see the pre-update row, standard SQL UPDATE semantics). Only files
    HOLDING a matching row rewrite; untouched files carry by name;
    table CHECK expectations re-enforce on the rewritten rows, and a
    violating update is refused with nothing published. Assigned
    columns must already exist (UPDATE never evolves schema). Same
    tagged DV-aware scan, optimistic-conflict retry, and atomic
    manifest publish as delete_where."""
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to update")
        prev = _load_manifest(table_dir, prior[-1])
        schema = _manifest_schema(prev)
        if schema is not None:
            known = {f.name for f in schema.fields}
            bad = sorted(set(assignments) - known)
            if bad:
                raise ValueError(f"update_where: unknown columns {bad}")
        cond = F.expr(condition)
        live = _live_rows(spark, table_dir, prev, prev["files"], with_file=True)
        affected_rel = {
            os.path.normpath(r["__f"])
            for r in live.where(cond).select("__f").distinct().collect()
        }
        untouched = [
            rel for rel in prev["files"] if os.path.normpath(rel) not in affected_rel
        ]
        affected = [
            rel for rel in prev["files"] if os.path.normpath(rel) in affected_rel
        ]
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        new_files: list[str] = []
        new_meta: dict = {}
        if affected:
            updated = _apply_assignments(
                _live_rows(spark, table_dir, prev, affected), condition, assignments
            )
            exp = prev.get("expectations", {})
            if exp:
                _enforce_expectations(updated, exp)
            rel_dir = os.path.join("data", f"v{v}")
            _to_physical(updated, _mapping(prev)).write.mode(
                "overwrite"
            ).parquet(os.path.join(table_dir, rel_dir))
            new_files, new_meta = _stage_files(
                table_dir, rel_dir, coalesce_small=not _layout_bound(prev)
            )
        stats = {
            rel: s for rel, s in prev.get("stats", {}).items() if rel in set(untouched)
        }
        prev_stat_cols = sorted({c for st in prev.get("stats", {}).values() for c in st})
        if prev_stat_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), prev_stat_cols)
        file_meta = {
            **{
                rel: m
                for rel, m in prev.get("file_meta", {}).items()
                if rel in set(untouched)
            },
            **new_meta,
        }
        manifest = {
            "version": v,
            "mode": "update",
            "condition": condition,
            "files": untouched + new_files,
            "stats": stats,
            "file_meta": file_meta,
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "rewrote": len(affected),
            "carried": len(untouched),
        }
        manifest.update(
            _bloom_manifest_fields(spark, table_dir, prev, new_files, file_meta, v)
        )
        dv_rel, dv_rows = _carry_dv(spark, table_dir, prev, untouched, v)
        if dv_rel:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"update_where: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def update_where_mor(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """Merge-on-read UPDATE — the deletion-vector UPDATE shape (how
    Delta updates a DV-enabled table): the matching rows' old versions
    are tombstoned by POSITION into the deletion vector, and their
    updated versions append as NEW files. No existing data file is
    rewritten; write volume is O(matching rows), not O(affected
    files). The new snapshot = old files (vector applied) + the
    update's delta files; `read_changes` consequently reports the
    update as its natural delete+insert pair. CHECK expectations
    re-enforce on the updated rows. Maintenance folds everything in:
    a later full compact purges the vector and merges the delta files
    away."""
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to update")
        prev = _load_manifest(table_dir, prior[-1])
        schema = _manifest_schema(prev)
        if schema is not None:
            bad = sorted(set(assignments) - {f.name for f in schema.fields})
            if bad:
                raise ValueError(f"update_where_mor: unknown columns {bad}")
        cond = F.expr(condition)
        # condition and SET expressions speak LOGICAL names;
        # _read_physical owns the physical->logical translation and
        # _to_physical translates back at write time
        tagged, cols = _read_physical(spark, table_dir, prev, prev["files"])
        old_dv = _dv_df(spark, table_dir, prev)
        if old_dv is not None:
            dvr = old_dv.select(
                F.col("f").alias("__f"), F.col("pos").alias("__pos")
            )
            tagged = tagged.join(dvr, ["__f", "__pos"], "left_anti")
        matches = tagged.where(F.coalesce(cond, F.lit(False)))
        # one scan feeds both legs: cache the (small) matching set
        matches = matches.localCheckpoint(eager=True)
        updated = _apply_assignments(
            matches.select(*cols), condition, assignments
        )
        exp = prev.get("expectations", {})
        if exp:
            _enforce_expectations(updated, exp)
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        rel_dir = os.path.join("data", f"v{v}")
        _to_physical(updated, _mapping(prev)).write.mode(
            "overwrite"
        ).parquet(os.path.join(table_dir, rel_dir))
        new_files, new_meta = _stage_files(
            table_dir, rel_dir, coalesce_small=not _layout_bound(prev)
        )
        new_pos = matches.select(
            F.col("__f").alias("f"), F.col("__pos").alias("pos")
        )
        new_dv = (
            new_pos.unionByName(old_dv).distinct()
            if old_dv is not None
            else new_pos.distinct()
        )
        dv_rel = os.path.join("dv", f"v{v}")
        new_dv.write.mode("overwrite").parquet(os.path.join(table_dir, dv_rel))
        # footer-count + empty-vector guard, as in delete_where_mor
        _dv_files, _dv_meta = _stage_files(table_dir, dv_rel)
        dv_rows = sum(m["rows"] for m in _dv_meta.values())
        stats = dict(prev.get("stats", {}))
        prev_stat_cols = sorted({c for st in stats.values() for c in st})
        if prev_stat_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), prev_stat_cols)
        manifest = {
            "version": v,
            "mode": "update",
            "condition": condition,
            "files": list(prev["files"]) + new_files,
            "stats": stats,
            "file_meta": {**prev.get("file_meta", {}), **new_meta},
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "rewrote": 0,
            "carried": len(prev["files"]),
        }
        if dv_rows:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        manifest.update(
            _bloom_manifest_fields(
                spark, table_dir, prev, new_files, new_meta, v
            )
        )
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"update_where_mor: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    delete_condition: str | None = None,
    batch_id: int | None = None,
    delete_matched_only: bool = False,
    source_unique: bool = False,
) -> int:
    """MERGE INTO / CDC-apply over the snapshot log (the Delta MERGE
    upsert and the DLT APPLY CHANGES shape): every target row whose
    key matches a source row is REPLACED by that source row, source
    rows with unmatched keys are INSERTED, and source rows matching
    ``delete_condition`` (evaluated against SOURCE columns) tombstone
    their key instead — the three-way CDC apply.

    Scale shape (the copy-on-write MERGE plan):
    1. one distributed scan with `input_file_name()` materialized
       BEFORE the key semi-join finds the affected files — only files
       holding a matched key rewrite (AQE picks broadcast when the
       source key set is small). With manifest blooms covering the
       merge key (single column OR a composite spec, see
       _bloom_value_expr), the scan itself is PRE-PRUNED to MAYBE
       files: <=1024 single-column keys take the driver probe
       (select_files_point); wider or composite key sets take the
       distributed zone+bloom probe (select_files_keys), so a wide
       CDC batch still reads O(candidate files), never O(table);
    2. affected files re-read, matched keys anti-joined out, the
       source's surviving rows unioned in (whole-row update);
    3. untouched files carry into the new manifest by name — zero
       I/O; the atomic manifest replace publishes the merge and prior
       versions still time-travel.

    ``delete_matched_only`` selects the tombstone semantic for
    ``delete_condition``: False (default) is the CDC-apply rule —
    delete-marked rows NEVER insert, matched or not (a tombstone for
    an absent key is a no-op, the DLT APPLY CHANGES contract); True is
    the ANSI MERGE rule — `WHEN MATCHED AND cond THEN DELETE` only
    affects matched rows, so an UNMATCHED delete-marked source row
    falls through to the INSERT branch and is inserted as-is (the SQL
    front end passes True so shared MERGE text keeps warehouse
    semantics; found by the DML model fuzzer, tests/
    test_sql_dml_model.py).

    Source must carry exactly the target columns (plus any
    ``delete_condition`` inputs) and at most ONE row per key —
    ambiguous multi-row matches raise, as Delta's MERGE does.
    ``source_unique=True`` is the caller's PROOF of that contract
    (the source plan ends in an aggregation/distinct on exactly the
    merge key), which skips the dup-gate Spark job — one fewer pass
    over the source per merge; a lying caller corrupts the table the
    same way Delta's un-gated MERGE would, so pass it only when the
    uniqueness is structural. Shares
    delete_where's optimistic-conflict retry: a concurrent append
    landing mid-scan restarts the merge against the newer snapshot.
    Returns the committed version. `batch_id` is the streaming
    exactly-once replay token (see foreach_batch_merge): a replayed
    micro-batch finds its id in a committed manifest and no-ops."""
    root = os.path.abspath(table_dir)
    if batch_id is not None:
        pv = _find_batch_commit(table_dir, batch_id)
        if pv is not None:
            return pv  # replayed micro-batch: already applied
    key_struct = F.struct(*[F.col(c) for c in key_cols])
    # ONE source job serves BOTH the dup gate and the driver bloom
    # probe (round-11 job fold): when the head of the table's manifest
    # says a single-column bloom spec covers the merge key (a json
    # read, no Spark job — a perf peek only, both downstream paths are
    # correct if it goes stale mid-retry), collect the grouped key
    # head. If it fits (source carries <= _BLOOM_DRIVER_KEYS_MAX + 1
    # distinct keys — the CDC-batch shape), the full key set is in
    # hand, the dup check runs on the driver, and the single-key probe
    # below reuses the rows. A truncated head means a wide source: the
    # dup gate re-runs distributed (exactly the former plan) and the
    # distributed zone+bloom probe takes over. Tables with no usable
    # bloom spec skip the head collect outright — there the key set
    # has no consumer, so the old single distributed dup gate stays
    # the cheaper plan.
    _khead = None
    _grouped = source.groupBy(*key_cols).count()
    _mv0 = main_versions(table_dir)
    _peek = _load_manifest(table_dir, _mv0[-1]) if _mv0 else None
    if (
        len(key_cols) == 1
        and _peek is not None
        and _bloom_spec_for(_peek, key_cols) is not None
    ):
        _khead = _grouped.limit(_BLOOM_DRIVER_KEYS_MAX + 2).collect()
    if _khead is not None and len(_khead) <= _BLOOM_DRIVER_KEYS_MAX + 1:
        dup = [r for r in _khead if r["count"] > 1][:1]
    else:
        _khead = None
        # source_unique: the caller proved <=1 row/key structurally,
        # so the distributed dup-gate job is pure cost — skip it. (The
        # head collect above is NOT skipped when a bloom spec exists:
        # it feeds the driver file-prune probe, not just the gate.)
        dup = (
            []
            if source_unique
            else _grouped.where(F.col("count") > 1).limit(1).collect()
        )
    if dup:
        raise ValueError(
            f"merge_into: source has multiple rows for key {tuple(dup[0])[:-1]!r}; "
            "deduplicate the source (e.g. keep the latest change per key) first"
        )
    upserts = (
        source.where(~F.coalesce(F.expr(delete_condition), F.lit(False)))
        if delete_condition is not None
        else source
    )
    all_keys = source.select(key_struct.alias("_k")).distinct()
    # retry-invariant probe state (ADVICE r10): the source key set and
    # its dtypes never change across optimistic-retry attempts, so the
    # grouped-head collect above runs exactly ONCE; only the manifest-
    # dependent select_files_* calls stay inside the loop
    src_dtypes = dict(source.dtypes)

    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to merge into")
        prev = _load_manifest(table_dir, prior[-1])
        snap = read_version(spark, table_dir, prior[-1])
        if sorted(source.columns) != sorted(snap.columns):
            raise ValueError(
                f"merge_into: source columns {sorted(source.columns)} != "
                f"target columns {sorted(snap.columns)}"
            )
        # bloom-pruned affected-file scan (round-10, widened round-11):
        # with manifest blooms covering the merge key, only MAYBE files
        # are opened to find matches — the delete_keys discipline
        # applied to MERGE, so a CDC upsert batch against a 100 TB
        # table scans O(candidate files), never O(table). A small
        # single-column key set (<=1024) takes the driver probe; a
        # WIDE or COMPOSITE key set takes the distributed zone+bloom
        # probe (select_files_keys — sidecars read as a DataFrame,
        # digests broadcast, per-file verdicts only). Pruning is an
        # I/O optimization, never a filter: blooms have no false
        # negatives and zone bounds are true min/max, so a skipped
        # file provably holds no source key — it can neither be
        # affected nor hide a live key from the ANSI tombstone-revive
        # check below.
        scan_rel = prev["files"]
        bloom_pruned = None
        # bloom hashing contract enforced by dtype, not hope: a false-
        # negative prune would silently skip affected files and turn
        # the upsert into a duplicate insert. Conditions beyond "a
        # bloom spec covers the key" (_bloom_spec_for handles renames):
        # - SOURCE and TARGET key dtypes integral/string AND equal per
        #   column (a bigint probe '100' can never hit a string build
        #   '0100' even though the struct join would coerce a match);
        # - no NULL source key on the SINGLE-column path (its builder
        #   skips NULLs while the struct join matches NULL==NULL); the
        #   composite encoding is null-preserving, so NULL keys prune
        #   fine there.
        _prunable = {"tinyint", "smallint", "int", "bigint", "string"}
        _schema = _manifest_schema(prev)
        _tgt_types = (
            {f.name: f.dataType.simpleString() for f in _schema.fields}
            if _schema is not None
            else {}
        )
        _specinfo = _bloom_spec_for(prev, key_cols)
        if _specinfo is not None and all(
            src_dtypes.get(c) in _prunable
            and src_dtypes.get(c) == _tgt_types.get(c)
            for c in key_cols
        ):
            _spec_logical = _specinfo[1]
            krows = _khead if len(key_cols) == 1 else None
            if krows is not None and len(krows) <= _BLOOM_DRIVER_KEYS_MAX:
                kvals = [r[key_cols[0]] for r in krows]
                if all(v is not None for v in kvals):
                    scan_rel, _skipped = select_files_point(
                        table_dir, prior[-1], key_cols[0], kvals
                    )
                    bloom_pruned = len(_skipped)
                # else: NULL single-column key -> full scan
            elif _probe_worthwhile(prev):
                # The distributed zone+bloom probe costs several fixed
                # Spark jobs over the sidecar datasets; under a handful
                # of files — or KB-scale candidate bytes — the
                # affected-file scan reads them all anyway, so the
                # probe can only add wall-clock. Scale guard, not a
                # semantics change: below the thresholds we take the
                # (always-correct) full affected-file scan.
                res = select_files_keys(
                    spark,
                    table_dir,
                    prior[-1],
                    key_cols,
                    _keys_probe_df(source, _spec_logical, src_dtypes),
                    manifest=prev,
                )
                if res is not None:
                    scan_rel, _skipped = res
                    bloom_pruned = len(_skipped)
        # tagged live read: file-relative path per row, deletion vector
        # applied (a DV-erased row must not mark its file affected)
        tagged = _live_rows(
            spark, table_dir, prev, scan_rel, with_file=True
        ).withColumn("_k", key_struct)
        affected_rel = {
            os.path.normpath(r["__f"])
            for r in tagged.join(all_keys, "_k", "left_semi")
            .select("__f")
            .distinct()
            .collect()
        }
        untouched = [
            rel for rel in prev["files"] if os.path.normpath(rel) not in affected_rel
        ]
        affected = [
            rel for rel in prev["files"] if os.path.normpath(rel) in affected_rel
        ]

        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        eff_upserts = upserts
        if delete_condition is not None and delete_matched_only:
            # ANSI rule: an unmatched delete-marked row is not a
            # tombstone — it reaches the INSERT branch. Revive the
            # tombstones whose key is absent from the live snapshot.
            live_keys = tagged.select("_k").distinct()
            revived = (
                source.where(
                    F.coalesce(F.expr(delete_condition), F.lit(False))
                )
                .withColumn("_k", key_struct)
                .join(live_keys, "_k", "left_anti")
                .drop("_k")
            )
            eff_upserts = upserts.unionByName(revived)
        exp = prev.get("expectations", {})
        if exp:
            _enforce_expectations(eff_upserts, exp)
        cols = snap.columns
        kept = (
            _live_rows(spark, table_dir, prev, affected)
            .withColumn("_k", key_struct)
            .join(all_keys, "_k", "left_anti")
            .select(*cols)
            if affected
            else snap.limit(0)
        )
        new_data = kept.unionByName(eff_upserts.select(*cols))
        rel_dir = os.path.join("data", f"v{v}")
        staging = os.path.join(table_dir, rel_dir)
        _to_physical(new_data, _mapping(prev)).write.mode(
            "overwrite"
        ).parquet(staging)
        new_files, new_meta = _stage_files(
            table_dir, rel_dir, coalesce_small=not _layout_bound(prev)
        )
        stats = {
            rel: s for rel, s in prev.get("stats", {}).items() if rel in set(untouched)
        }
        prev_stat_cols = sorted({c for st in prev.get("stats", {}).values() for c in st})
        if prev_stat_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), prev_stat_cols)
        file_meta = {
            **{
                rel: m
                for rel, m in prev.get("file_meta", {}).items()
                if rel in set(untouched)
            },
            **new_meta,
        }
        manifest = {
            "version": v,
            "mode": "merge",
            "files": untouched + new_files,
            "stats": stats,
            "file_meta": file_meta,
            "schema": prev.get("schema"),
            "expectations": exp,
            "rewrote": len(affected),
            "carried": len(untouched),
        }
        if bloom_pruned is not None:
            manifest["bloom_pruned"] = bloom_pruned
        manifest.update(
            _bloom_manifest_fields(spark, table_dir, prev, new_files, file_meta, v)
        )
        dv_rel, dv_rows = _carry_dv(spark, table_dir, prev, untouched, v)
        if dv_rel:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        if batch_id is not None:
            manifest["batch_id"] = batch_id
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"merge_into: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def foreach_batch_merge(
    table_dir: str,
    key_cols: list[str],
    sequence_col: str | None = None,
    delete_condition: str | None = None,
):
    """writeStream.foreachBatch body applying each micro-batch of
    CHANGE rows as one MERGE commit — the DLT APPLY CHANGES INTO shape
    over the snapshot log: matched keys replace, unmatched insert,
    rows satisfying ``delete_condition`` tombstone, exactly-once via
    the batch-id token (a checkpoint-replayed batch no-ops).

    ``sequence_col`` resolves multi-change keys the way APPLY CHANGES'
    SEQUENCE BY does: within the batch only each key's HIGHEST-sequence
    row applies (ties broken by the remaining columns for determinism);
    without it, a key appearing twice in one batch raises, as
    merge_into does. Scale shape is merge_into's: only files holding a
    matched key rewrite, per micro-batch."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df
        if sequence_col is not None:
            from pyspark.sql.window import Window as _W

            others = [c for c in src.columns if c not in key_cols]
            w = _W.partitionBy(*key_cols).orderBy(
                F.col(sequence_col).desc(), *[F.col(c).desc() for c in others]
            )
            src = (
                src.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        merge_into(
            batch_df.sparkSession,
            table_dir,
            src,
            key_cols,
            delete_condition=delete_condition,
            batch_id=batch_id,
        )

    return apply


def compact(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 4,
    stats_cols: list[str] | None = None,
    min_file_bytes: int | None = None,
    zorder_by: list[str] | None = None,
    where_stats: tuple[str, object, object] | None = None,
) -> int:
    """OPTIMIZE-style bin-packing compaction, committed as a new
    version. Row-preserving by construction — a distributed read, a
    round-robin repartition, one write, no filters — so the new
    snapshot is value-identical to the one it compacts, while the
    small files a streaming append sink accumulates (one-plus per
    micro-batch) collapse into scan-efficient ones: fewer tasks,
    fewer footer reads, bigger sequential I/O (the Delta OPTIMIZE /
    Iceberg rewrite_data_files maintenance op). Prior versions still
    time-travel to the pre-compaction files; vacuum reclaims them
    once retention expires.

    ``min_file_bytes=None`` rewrites the WHOLE snapshot into
    ``target_files`` files — fine for tests and small tables, O(table
    bytes) at scale. ``min_file_bytes=N`` is the 100 TB mode (what
    Delta OPTIMIZE actually does): only files SMALLER than N are
    bin-packed — into ceil(small_bytes / N) outputs, so merged files
    approach the threshold size — and every already-large file is
    carried into the new manifest BY NAME with zero I/O. Maintenance
    cost then scales with the small-file tail the sink produced since
    the last run, never with table size. Fewer than two small files
    means nothing to merge: no commit, the current version is
    returned unchanged. A small-file set totalling at most
    ``_STAGE_COMPACT_MAX_BYTES`` (staging auto-coalesce's "small") is
    merged on the DRIVER into one file (`_merge_parquet`, verified;
    no Spark job) when a plain concatenation is the rewrite: no
    deletion vector, no ``zorder_by``, no partition spec, and every
    file carrying exactly the manifest's physical schema
    (`_plain_concat`). Anything else — or a merge that does not
    verify — takes the Spark rewrite.

    Concurrency: claims a version first (so a concurrent vacuum
    treats the staging dir as in-flight, never an orphan) and
    aborts + retries if a newer version committed since the snapshot
    it read — same optimistic-conflict discipline and same residual
    check-to-publish window as delete_where.

    ``where_stats=(col, lo, hi)`` is the OPTIMIZE WHERE analog: only
    files whose manifest min/max for ``col`` INTERSECTS [lo, hi] are
    candidates (files provably outside — or lacking stats intersection
    by range — are carried by name with zero I/O); whole candidate
    files rewrite, so the op stays row-preserving. This scopes a
    maintenance pass to the hot region a streaming sink just appended
    (e.g. today's timestamps) instead of the whole table — composable
    with ``min_file_bytes`` (scope first, then size threshold) and
    ``zorder_by``. Files WITHOUT stats for ``col`` are conservatively
    in scope, mirroring select_files' keep-on-unknown rule.
    """
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to compact")
        v_read = prior[-1]
        prev = _load_manifest(table_dir, v_read)
        scope = list(prev["files"])
        scoped_out: list[str] = []
        if where_stats is not None:
            col, lo, hi = where_stats
            stats0 = prev.get("stats", {})

            def outside(rel: str) -> bool:
                mm = stats0.get(rel, {}).get(col)
                return mm is not None and (mm[1] < lo or mm[0] > hi)

            scoped_out = [rel for rel in scope if outside(rel)]
            scope = [rel for rel in scope if not outside(rel)]
        if min_file_bytes is None:
            to_merge = scope
            carried = scoped_out
            n_out = max(1, target_files)
            if where_stats is not None and len(to_merge) < 2:
                return v_read  # scope holds <2 files: nothing to merge
        else:
            meta = prev.get("file_meta", {})
            size = lambda rel: (  # noqa: E731
                meta[rel]["bytes"]
                if rel in meta
                else os.path.getsize(os.path.join(table_dir, rel))
            )
            to_merge = [rel for rel in scope if size(rel) < min_file_bytes]
            carried = scoped_out + [
                rel for rel in scope if size(rel) >= min_file_bytes
            ]
            if len(to_merge) < 2:
                return v_read  # nothing to merge: no-op, no commit
            small_bytes = sum(size(rel) for rel in to_merge)
            n_out = max(1, -(-small_bytes // min_file_bytes))  # ceil
        # A small tail merges on the driver (_merge_parquet) with no
        # Spark job: the same "small" rule as staging's auto-coalesce,
        # and only where a plain concatenation of the files IS the
        # rewrite — no deletion vector to purge, no layout to rebuild,
        # every file already carrying the table's physical schema.
        driver = (
            min_file_bytes is not None
            and small_bytes <= _STAGE_COMPACT_MAX_BYTES
            and not prev.get("dv")
            and not zorder_by
            and not prev.get("partition_by")
            and _plain_concat(table_dir, prev, to_merge)
        )
        # the live read applies any deletion vector, so a full rewrite
        # PURGES merge-on-read deletes into clean files by construction
        df = None if driver else _live_rows(spark, table_dir, prev, to_merge)
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != v_read:
            _release_claim(table_dir, v)  # newer commit landed mid-read
            continue
        rel_dir = os.path.join("data", f"v{v}")
        staging = os.path.join(table_dir, rel_dir)
        pspec = prev.get("partition_by")
        if driver:
            import uuid as _uuid

            os.makedirs(staging, exist_ok=True)
            driver = _merge_parquet(
                [os.path.join(table_dir, rel) for rel in to_merge],
                os.path.join(
                    staging, f"part-00000-{_uuid.uuid4().hex}-merged.parquet"
                ),
            )
        if not driver:
            if df is None:  # the driver merge did not verify
                df = _live_rows(spark, table_dir, prev, to_merge)
            if zorder_by:
                # OPTIMIZE ZORDER BY: cluster the rewrite on the Morton
                # curve of the given columns so footer min/max stats prune
                # files for predicates on ANY of them (operators/zorder.py;
                # the maintenance twin of Delta's ZORDER). Stats for the
                # z-columns are recorded below so skipping works at once.
                from binance_etl_spark.operators.zorder import write_zordered

                _cm = _mapping(prev)
                write_zordered(
                    _to_physical(df, _cm),
                    staging,
                    [_cm.get(c, c) for c in zorder_by],
                    n_out,
                )
            elif pspec and set(pspec) <= set(df.columns):
                # the table declares a partition spec: the rewrite must
                # PRESERVE the hidden-partition clustering (Delta OPTIMIZE
                # compacts within partitions the same way) — otherwise
                # maintenance would quietly destroy the equality-pruning
                # layout write_version built
                nspec = df.select(*pspec).distinct().count()
                _to_physical(
                    df.repartitionByRange(
                        max(n_out, int(nspec), 1), *[F.col(c) for c in pspec]
                    ),
                    _mapping(prev),
                ).write.mode("overwrite").parquet(staging)
            else:
                _to_physical(df.repartition(n_out), _mapping(prev)).write.mode(
                    "overwrite"
                ).parquet(staging)
        new_files, file_meta = _stage_files(
            table_dir, rel_dir, coalesce_small=False
        )
        stats = {
            rel: s for rel, s in prev.get("stats", {}).items() if rel in set(carried)
        }
        prev_stat_cols = sorted({c for st in prev.get("stats", {}).values() for c in st})
        recompute_cols = sorted(
            set(prev_stat_cols) | set(stats_cols or []) | set(zorder_by or [])
        )
        if recompute_cols:
            for rel in new_files:
                stats[rel] = _file_stats(os.path.join(table_dir, rel), recompute_cols)
        file_meta = {
            **{
                rel: m
                for rel, m in prev.get("file_meta", {}).items()
                if rel in set(carried)
            },
            **file_meta,
        }
        manifest = {
            "version": v,
            "mode": "compact",
            "files": carried + new_files,
            "stats": stats,
            "file_meta": file_meta,
            "schema": prev.get("schema"),
            "expectations": prev.get("expectations", {}),
            "compacted_from": v_read,
            "rewrote": len(to_merge),
            "carried": len(carried),
        }
        manifest.update(
            _bloom_manifest_fields(spark, table_dir, prev, new_files, file_meta, v)
        )
        dv_rel, dv_rows = _carry_dv(spark, table_dir, prev, carried, v)
        if dv_rel:
            manifest["dv"] = dv_rel
            manifest["dv_rows"] = dv_rows
        # FINAL base re-check: the data write above may have taken
        # long enough for a waiting racer to time out and commit —
        # publishing now would drop that commit from forward history,
        # so abort and retry against the new head instead (the staged
        # dir becomes an unreferenced orphan vacuum sweeps)
        if main_versions(table_dir)[-1] != v_read:
            _release_claim(table_dir, v)
            continue
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"compact: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def select_files(
    table_dir: str,
    version: int | None,
    col: str,
    lo,
    hi,
) -> tuple[list[str], list[str]]:
    """Manifest-level FILE SKIPPING: split a snapshot's files into
    (kept, skipped) for the predicate ``lo <= col <= hi`` using the
    per-file min/max recorded at write time — the Iceberg/Delta data-
    skipping move, decided driver-side from the manifest with ZERO
    file opens. Files without stats for ``col`` are always kept
    (skipping is an I/O optimization, never a correctness filter —
    callers still apply the real predicate to the scanned rows).
    ``version=None`` resolves to the MAIN-LINE head — the snapshot
    default readers see — never a staged branch commit mid-WAP
    (consistent with read_version / select_files_point)."""
    if version is None:
        version = main_versions(table_dir)[-1]
    manifest = _load_manifest(table_dir, version)
    stats = manifest.get("stats", {})
    col = _mapping(manifest).get(col, col)  # stats are physical-keyed
    kept, skipped = [], []
    for rel in manifest["files"]:
        mm = stats.get(rel, {}).get(col)
        if mm is not None and (mm[1] < lo or mm[0] > hi):
            skipped.append(rel)
        else:
            kept.append(rel)
    return kept, skipped


def _appends_since_compact(table_dir: str) -> int:
    """Main-line versions committed since the newest compaction (all of
    them when the table was never compacted) — one manifest parse per
    version walked back."""
    since = 0
    for v in reversed(main_versions(table_dir)):
        if _load_manifest(table_dir, v).get("mode") == "compact":
            break
        since += 1
    return since


def foreach_batch_snapshot(
    table_dir: str,
    stats_cols: list[str] | None = None,
    compact_every: int | None = None,
):
    """writeStream.foreachBatch body committing one snapshot VERSION
    per micro-batch — exactly-once via the batch-id token: a replayed
    batch (checkpoint recovery re-delivers the last batch) finds its
    id in a committed manifest and no-ops instead of double-appending.
    Readers always see a consistent snapshot (the atomic manifest
    replace), never a half-written micro-batch — the versioned-corpus
    ingestion front end for reproducible training snapshots.

    ``compact_every=N`` runs tail-merge maintenance inline: once N
    appends accumulate since the last compaction, the sink merges its
    small-file tail — every file under ``_STAGE_COMPACT_MAX_BYTES`` —
    with `compact(min_file_bytes=...)`. A tail within that size merges
    on the driver with no Spark job; files at or above it are carried
    by name, so a maintenance trigger costs the tail, never the table.
    A per-micro-batch append sink otherwise grows one file set per
    batch forever, and at 100 TB the scan cost of a snapshot is driven
    by its FILE COUNT as much as its bytes. The cadence is counted in
    memory: the first batch seeds it with one walk back through the
    log (so a restarted query resumes the count), later batches add
    one per NEW version (a replayed batch returns an existing one and
    counts nothing). Compaction is row-preserving, so a crash-replay
    that re-triggers it merely commits another identical-content
    version — idempotent in value, not in version count."""
    since: int | None = None  # appends since the last compaction
    last = 0  # newest version this sink committed or saw

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal since, last
        v = write_version(
            batch_df,
            table_dir,
            mode="append",
            stats_cols=stats_cols,
            batch_id=batch_id,
        )
        if not compact_every:
            return
        if since is None:
            since = _appends_since_compact(table_dir)
        elif v > last:
            since += 1
        last = max(last, v)
        if since >= compact_every:
            last = compact(
                batch_df.sparkSession,
                table_dir,
                stats_cols=stats_cols,
                min_file_bytes=_STAGE_COMPACT_MAX_BYTES,
            )
            since = 0

    return apply


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` (default: latest committed MAIN-LINE
    version — staged branch commits are invisible until published; an
    explicit ``version`` may address any committed version, branch
    commits included)."""
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    if version is None:
        main = main_versions(table_dir)
        if not main:
            raise FileNotFoundError(f"no main-line snapshots in {table_dir}")
        version = main[-1]
    if version not in vs:
        raise FileNotFoundError(f"snapshot v{version} not committed in {table_dir}")
    manifest = _load_manifest(table_dir, version)
    # `_live_rows` applies the manifest-pinned schema (reads are
    # deterministic under schema evolution; time travel returns each
    # version's OWN schema) and the version's deletion vector, if any
    # (merge-on-read deletes — see delete_where_mor).
    return _live_rows(spark, table_dir, manifest, manifest["files"])


def count_rows(table_dir: str, version: int | None = None) -> int:
    """Exact row count of a snapshot from manifest metadata alone —
    zero data I/O, zero Spark jobs (the SELECT COUNT(*) fast path a
    table format owes its users; Delta answers it from numRecords the
    same way). Files committed before file_meta existed fall back to
    one parquet-footer read each — still metadata-only."""
    import pyarrow.parquet as pq

    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    version = main_versions(table_dir)[-1] if version is None else version
    m = _load_manifest(table_dir, version)
    meta = m.get("file_meta", {})
    total = 0
    for rel in m["files"]:
        if rel in meta:
            total += meta[rel]["rows"]
        else:  # pre-file_meta commit: footer read, no data scan
            total += pq.ParquetFile(os.path.join(table_dir, rel)).metadata.num_rows
    # merge-on-read deletes: DV rows are live-row subtractions, and the
    # manifest records their count at commit time — still zero data I/O
    return total - m.get("dv_rows", 0)


def history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per committed version, newest last —
    version, mode, file/row/byte totals straight from the manifests
    (no data I/O), plus the op-specific fields each mode records
    (delete condition, compacted_from, batch_id, rewrote/carried).
    Row/byte totals are None for pre-file_meta commits."""
    out = []
    for v in versions(table_dir):
        m = _load_manifest(table_dir, v)
        meta = m.get("file_meta", {})
        have_all = all(rel in meta for rel in m["files"])
        entry = {
            "version": v,
            "mode": m.get("mode"),
            "n_files": len(m["files"]),
            "n_rows": (
                sum(meta[rel]["rows"] for rel in m["files"]) - m.get("dv_rows", 0)
            )
            if have_all
            else None,
            "n_bytes": sum(meta[rel]["bytes"] for rel in m["files"]) if have_all else None,
        }
        for k in (
            "condition",
            "compacted_from",
            "batch_id",
            "rewrote",
            "carried",
            "branch",
            "parent",
            "published_from",
            "dv_rows",
        ):
            if k in m:
                entry[k] = m[k]
        out.append(entry)
    return out


def read_changes(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level CDC between two committed snapshots (the Iceberg
    changelog-scan / Delta CDF read for copy-on-write tables): diff
    the manifests' FILE LISTS and open only files added or removed
    between the versions — I/O scales with the delta, never the
    table. Row changes derive from the file diff:

    - inserts = rows of added files EXCEPT ALL rows of removed files
    - deletes = rows of removed files EXCEPT ALL rows of added files

    so an append yields pure inserts (no diff join at all), a
    `delete_where` rewrite yields exactly the erased rows as deletes
    (survivors cancel), and a `compact` — which rewrites bytes but no
    rows — yields ZERO changes, as a changelog should. Merge-on-read
    deletes (`delete_where_mor`) change NO files, so their delta comes
    from the DELETION-VECTOR diff instead: rows of files present in
    both versions whose (file, position) is deleted in ``to`` but not
    ``from`` surface as deletes — I/O proportional to the DV delta.
    Result carries a `change_type` column ('insert' | 'delete'). Both
    endpoints must still be committed (within retention — see vacuum's
    contract); `from_version == to_version` returns an empty frame."""
    vs = versions(table_dir)
    for v in (from_version, to_version):
        if v not in vs:
            raise FileNotFoundError(f"snapshot v{v} not committed in {table_dir}")
    if from_version > to_version:
        raise ValueError("from_version must be <= to_version")
    m_from = _load_manifest(table_dir, from_version)
    m_to = _load_manifest(table_dir, to_version)
    files_from = set(m_from["files"])
    files_to = set(m_to["files"])
    added = sorted(files_to - files_from)
    removed = sorted(files_from - files_to)
    common = sorted(files_from & files_to)

    # empty/schema frame WITHOUT touching data files: read_version
    # would list and plan over every snapshot file just to learn the
    # schema — measured as the probe's 4.6x read_changes slope at
    # 1,600 files (the one O(table) step in an otherwise O(delta)
    # changelog read). Manifests pin the logical schema; fall back to
    # the listing read only for pre-schema manifests. The .limit(0)
    # is LOAD-BEARING: createDataFrame([], schema) is RDD-backed, and
    # only limit-0 folding gives Catalyst a provably-empty
    # LocalRelation it can ELIMINATE from the unions/excepts below —
    # an ExistingRDD empty side keeps whole join/union branches alive
    # (measured: sink_cdc_incremental_join 4.9 -> 7.5s without it).
    _schema = _manifest_schema(m_to)
    empty = (
        spark.createDataFrame([], _schema).limit(0)
        if _schema is not None
        else read_version(spark, table_dir, to_version).limit(0)
    )
    cols = empty.columns
    # live reads: each side's deletion vector applied, so a row erased
    # before `from` can never re-surface in the diff
    a = _live_rows(spark, table_dir, m_to, added) if added else empty
    r = _live_rows(spark, table_dir, m_from, removed) if removed else empty

    # DV delta over files both versions share
    dv_ins = dv_del = empty
    dv_f = _dv_df(spark, table_dir, m_from)
    dv_t = _dv_df(spark, table_dir, m_to)
    if common and (dv_f is not None or dv_t is not None):
        zf = dv_f if dv_f is not None else dv_t.limit(0)
        zt = dv_t if dv_t is not None else dv_f.limit(0)
        common_n = [os.path.normpath(c) for c in common]

        def _rows_at(posdf: DataFrame) -> DataFrame:
            tagged, _tcols = _read_physical(spark, table_dir, m_to, common)
            keys = posdf.where(F.col("f").isin(common_n)).selectExpr(
                "f AS __f", "pos AS __pos"
            )
            return tagged.join(keys, ["__f", "__pos"], "left_semi").select(*cols)

        dv_del = _rows_at(zt.exceptAll(zf))  # newly deleted rows
        dv_ins = _rows_at(zf.exceptAll(zt))  # un-deleted rows (rare)

    tag = lambda df, t: df.withColumn("change_type", F.lit(t))  # noqa: E731
    if added and removed:
        ins, dele = a.exceptAll(r), r.exceptAll(a)
    else:
        ins, dele = a, r
    return tag(ins.unionByName(dv_ins), "insert").unionByName(
        tag(dele.unionByName(dv_del), "delete")
    )


def read_version_as_of(
    spark: SparkSession, table_dir: str, ts: float
) -> DataFrame:
    """Time travel BY TIMESTAMP (the Delta ``timestampAsOf`` twin):
    read the newest snapshot committed at or before unix-seconds
    ``ts``. Commit time is the manifest file's mtime — stamped
    atomically by the ``os.replace`` publish, so no manifest format
    change and no writer-supplied clock; the same source of truth
    Delta uses (log-file modification time). Among eligible
    manifests the highest VERSION wins (version numbers are the log
    order; mtime only gates eligibility), so a slow writer whose
    lower version published late cannot shadow a newer commit.
    Raises FileNotFoundError when nothing was committed by ``ts``."""
    mdir = _manifest_dir(table_dir)
    eligible = [
        v
        for v in main_versions(table_dir)
        if os.path.getmtime(os.path.join(mdir, f"v{v}.json")) <= ts
    ]
    if not eligible:
        raise FileNotFoundError(
            f"{table_dir}: no snapshot committed at or before ts={ts}"
        )
    return read_version(spark, table_dir, eligible[-1])


def vacuum(
    table_dir: str,
    keep_last: int = 1,
    claim_ttl_seconds: float = 86400.0,
    retain_seconds: float | None = None,
    dry_run: bool = False,
) -> dict:
    """Retention maintenance: physically delete data files referenced
    ONLY by expired snapshots (all but the newest ``keep_last``
    versions), plus crashed-commit orphan data dirs no manifest ever
    referenced. This is the physical-erasure half of the GDPR story:
    `delete_where` makes rows invisible going forward; vacuum makes the
    expired bytes unrecoverable once the retention window passes
    (Delta/Iceberg VACUUM / expire_snapshots).

    Safety properties:
    - every file referenced by ANY kept manifest survives, so kept
      versions stay byte-complete and time-travelable;
    - files are removed only when NO kept manifest references them,
      and expired manifests are removed LAST — the worst mid-vacuum
      crash outcome is an expired manifest whose files are partially
      gone, which was already outside the retention contract; kept
      versions are never affected by any crash point.
    - a ``data/v<N>`` dir under a LIVE version claim
      (``_manifests/.claim-v<N>``) is an in-flight writer's staging,
      not a crashed-commit orphan — it is never swept while the claim
      is younger than ``claim_ttl_seconds`` (Delta-VACUUM-style
      retention threshold; a claim older than the TTL is treated as a
      crashed commit and reclaimed along with its staging dir). Run
      vacuum with the default TTL ≫ any plausible commit duration.

    Retention contract (Iceberg-style): reads WITHIN retention are
    safe — a reader holding any of the newest ``keep_last`` versions
    sees every byte it resolved, before, during, and after a
    concurrent vacuum. Reads OUTSIDE retention are not: a reader
    pinned to an expired version races the physical erasure and may
    fail mid-scan. Pin retention to cover your longest reader.

    ``retain_seconds`` adds TIME-based retention on top of the count:
    any version whose manifest committed within the window is kept
    even beyond ``keep_last`` (the Delta `RETAIN n HOURS` shape — age
    from the manifest mtime, the same commit clock read_version_as_of
    trusts). Returns {"kept_versions", "removed_files",
    "removed_orphan_dirs"}.

    ``dry_run=True`` (the Delta VACUUM DRY RUN shape) reports exactly
    what a real run would remove — same keep-set, same TTL guards —
    while touching nothing on disk; the operational check before an
    irreversible retention pass.
    """
    import shutil
    import time

    vs = versions(table_dir)
    if not vs:
        return {"kept_versions": [], "removed_files": 0, "removed_orphan_dirs": 0}
    # retention COUNTS main-line history; branch commits expire unless a
    # ref still points at them or they fall inside the time window
    main = main_versions(table_dir)
    keep = set(main[-max(1, keep_last):]) if main else set()
    # a version any ref (tag or branch head) names never expires while
    # the ref exists — the Iceberg expire_snapshots retention rule
    keep |= {r["version"] for r in refs(table_dir).values() if r["version"] in vs}
    if retain_seconds is not None:
        now = time.time()
        mdir = _manifest_dir(table_dir)
        keep |= {
            v
            for v in vs
            if now - os.path.getmtime(os.path.join(mdir, f"v{v}.json"))
            <= retain_seconds
        }
    keep = sorted(keep)
    expired = [v for v in vs if v not in keep]
    referenced: set[str] = set()
    for v in keep:
        referenced.update(os.path.normpath(p) for p in _load_manifest(table_dir, v)["files"])
    removed_files = 0
    root = os.path.abspath(table_dir)
    for v in expired:
        for rel in _load_manifest(table_dir, v)["files"]:
            rel_n = os.path.normpath(rel)
            if rel_n in referenced:
                continue
            path = os.path.join(table_dir, rel_n)
            # never delete outside the table root: a SHALLOW CLONE's
            # manifests reference the SOURCE table's files by absolute
            # path, and vacuuming the clone must not reach into the
            # source (the Delta shallow-clone vacuum contract)
            if not os.path.abspath(path).startswith(root + os.sep):
                continue
            if os.path.exists(path):
                if not dry_run:
                    os.remove(path)
                removed_files += 1
    # crashed-commit orphans: data/v<N> dirs no manifest (kept OR
    # expired... expired are going away) references, and empty dirs
    removed_orphans = 0
    data_root = os.path.join(table_dir, "data")
    all_manifest_dirs = set()
    for v in keep:
        for rel in _load_manifest(table_dir, v)["files"]:
            all_manifest_dirs.add(os.path.normpath(os.path.dirname(rel)))
    if os.path.isdir(data_root):
        for entry in sorted(os.listdir(data_root)):
            rel_dir = os.path.normpath(os.path.join("data", entry))
            full = os.path.join(data_root, entry)
            if not os.path.isdir(full):
                continue
            if rel_dir in all_manifest_dirs:
                continue
            m = re.match(r"^v(\d+)$", entry)
            claim = (
                os.path.join(_manifest_dir(table_dir), f".claim-v{m.group(1)}")
                if m
                else None
            )
            if claim is not None and os.path.exists(claim):
                # A live claim means a writer is staging here RIGHT NOW
                # (claim → stage data → commit manifest → drop claim);
                # sweeping it would erase files a manifest is about to
                # reference. Only a claim past the TTL is a crashed
                # commit we may reclaim.
                if time.time() - os.path.getmtime(claim) < claim_ttl_seconds:
                    continue
            if m is None:
                # tx-<token> staging for an in-flight append (no claim
                # yet — the claim comes at commit time): young dirs are
                # live writers, only TTL-stale ones are crash debris
                try:
                    if time.time() - os.path.getmtime(full) < claim_ttl_seconds:
                        continue
                except FileNotFoundError:
                    continue
            has_referenced = any(
                os.path.normpath(os.path.join(rel_dir, f)) in referenced
                for f in os.listdir(full)
            )
            if not has_referenced:
                if not dry_run:
                    shutil.rmtree(full)
                    if claim is not None and os.path.exists(claim):
                        os.remove(claim)  # stale claim reclaimed with its dir
                removed_orphans += 1
    # sidecar datasets (deletion vectors under dv/, bloom indexes under
    # bloom/): a sidecar dir survives while ANY kept manifest references
    # it (appends share them by name); expired-only sidecars and
    # crashed-commit orphans sweep like data dirs, with the same
    # live-claim TTL guard for an in-flight committer.
    referenced_side: set[str] = set()
    for v in keep:
        m = _load_manifest(table_dir, v)
        if "dv" in m:
            referenced_side.add(os.path.normpath(m["dv"]))
        referenced_side.update(
            os.path.normpath(rel) for rel in m.get("bloom_indexes", [])
        )
    for side in ("dv", "bloom"):
        side_root = os.path.join(table_dir, side)
        if not os.path.isdir(side_root):
            continue
        for entry in sorted(os.listdir(side_root)):
            rel_dir = os.path.normpath(os.path.join(side, entry))
            full = os.path.join(side_root, entry)
            if not os.path.isdir(full) or rel_dir in referenced_side:
                continue
            m = re.match(r"^v(\d+)$", entry)
            claim = (
                os.path.join(_manifest_dir(table_dir), f".claim-v{m.group(1)}")
                if m
                else None
            )
            if claim is not None and os.path.exists(claim):
                if time.time() - os.path.getmtime(claim) < claim_ttl_seconds:
                    continue
            if m is None:
                # bloom/tx-<token> staged by an in-flight append: TTL
                try:
                    if time.time() - os.path.getmtime(full) < claim_ttl_seconds:
                        continue
                except FileNotFoundError:
                    continue
            if not dry_run:
                shutil.rmtree(full)
            removed_orphans += 1
    for v in expired:  # manifests go LAST (see safety note)
        if not dry_run:
            os.remove(os.path.join(_manifest_dir(table_dir), f"v{v}.json"))
    return {
        "kept_versions": keep,
        "removed_files": removed_files,
        "removed_orphan_dirs": removed_orphans,
        "expired_versions": expired,
        "dry_run": dry_run,
    }


# --- refs: tags, branches, write-audit-publish -----------------------
#
# Named pointers into the version log (the Iceberg refs model):
# - a TAG is an immutable name for one snapshot ("train-2026-08-14"):
#   reproducible training pins a tag, not a raw number;
# - a BRANCH is a mutable pointer advanced by `write_branch`; its
#   commits share the global version sequence and data/ namespace but
#   are MARKED with the branch name, so default readers (latest
#   main-line) never see them — staged data is invisible until audited;
# - `publish_branch` is the WAP (write-audit-publish) commit: audit the
#   branch head, then fast-forward main onto its FILE LIST by name —
#   zero data I/O, one atomic manifest replace, and the audited bytes
#   become the table's latest snapshot exactly as staged.
#
# Ref files live under `_refs/`, one JSON each, published with the same
# write-temp + os.replace discipline as manifests. `vacuum` keeps every
# ref-pointed version (see its keep-set), so a tag also acts as a
# retention pin.

_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _refs_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_refs")


def _ref_path(table_dir: str, name: str) -> str:
    if not _REF_NAME_RE.match(name):
        raise ValueError(f"invalid ref name {name!r}")
    return os.path.join(_refs_dir(table_dir), f"{name}.json")


def refs(table_dir: str) -> dict[str, dict]:
    """All refs: {name: {"type": "tag"|"branch", "version": N, ...}}."""
    rdir = _refs_dir(table_dir)
    if not os.path.isdir(rdir):
        return {}
    out = {}
    for fname in sorted(os.listdir(rdir)):
        if fname.endswith(".json"):
            with open(os.path.join(rdir, fname)) as f:
                out[fname[: -len(".json")]] = json.load(f)
    return out


def _write_ref(table_dir: str, name: str, payload: dict, *, create: bool) -> None:
    path = _ref_path(table_dir, name)
    os.makedirs(_refs_dir(table_dir), exist_ok=True)
    if create:
        # O_EXCL create arbitrates concurrent same-name creation; the
        # content lands via replace so readers never see a partial ref.
        with open(path, "x"):
            pass
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def create_tag(table_dir: str, name: str, version: int | None = None) -> int:
    """Immutable named snapshot pin. Defaults to the latest main-line
    version; re-creating an existing ref name raises."""
    if version is None:
        version = main_versions(table_dir)[-1]
    if version not in versions(table_dir):
        raise FileNotFoundError(f"snapshot v{version} not committed in {table_dir}")
    _write_ref(table_dir, name, {"type": "tag", "version": version}, create=True)
    return version


def create_branch(table_dir: str, name: str, version: int | None = None) -> int:
    """Mutable pointer for staged (WAP) writes, forked from ``version``
    (default: latest main-line). Records the fork ``base`` so publish
    can enforce fast-forward-only semantics."""
    if version is None:
        version = main_versions(table_dir)[-1]
    if version not in versions(table_dir):
        raise FileNotFoundError(f"snapshot v{version} not committed in {table_dir}")
    _write_ref(
        table_dir,
        name,
        {"type": "branch", "version": version, "base": version},
        create=True,
    )
    return version


def drop_ref(table_dir: str, name: str) -> None:
    os.remove(_ref_path(table_dir, name))


def read_ref(spark: SparkSession, table_dir: str, name: str) -> DataFrame:
    """Read the snapshot a tag or branch head points at."""
    r = refs(table_dir).get(name)
    if r is None:
        raise FileNotFoundError(f"no ref {name!r} in {table_dir}")
    return read_version(spark, table_dir, r["version"])


def write_branch(
    df: DataFrame,
    table_dir: str,
    branch: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    expectations: dict[str, str] | None = None,
    batch_id: int | None = None,
) -> int:
    """Commit ``df`` onto ``branch`` (the W of write-audit-publish):
    the new version chains onto the BRANCH head — append carries the
    head's file list, overwrite starts fresh — and is marked with the
    branch name, so default readers never see it. ``batch_id`` gives
    streaming foreachBatch writers the same replay idempotency as
    `write_version`: a batch id already committed ON THIS BRANCH is a
    no-op returning the existing version. Inherits and
    re-enforces the branch head's CHECK expectations exactly like a
    main-line append; the branch pointer advances only after the
    manifest commits (a crash in between leaves a committed-but-
    unpointed version that retention expires — never a dangling ref).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode {mode!r}")
    r = refs(table_dir).get(branch)
    if r is None or r.get("type") != "branch":
        raise FileNotFoundError(f"no branch {branch!r} in {table_dir}")
    if batch_id is not None:
        idx = _load_main_idx(table_dir)
        hit = (idx or {}).get("batch_ids", {}).get(f"branch:{branch}:{batch_id}")
        if hit is not None:
            return int(hit)  # replayed micro-batch: already staged
        tail = versions(table_dir)
        if idx is not None:
            tail = [pv for pv in tail if pv > idx["last"]]
        for pv in tail:
            m = _load_manifest(table_dir, pv)
            if m.get("branch") == branch and m.get("batch_id") == batch_id:
                return pv  # replayed micro-batch: already staged
    head = _load_manifest(table_dir, r["version"])
    if mode == "append":
        prev_schema = _manifest_schema(head)
        if prev_schema is not None:
            new_fields = {f.name: f.dataType for f in df.schema.fields}
            # Same physical-name reuse guard as write_version: a new
            # column named after a renamed-away or dropped column's
            # PHYSICAL name would make carried files' dead bytes
            # resurface as the new column's values on read.
            head_names = {f.name for f in prev_schema.fields}
            unavailable = (
                set(_mapping(head).values())
                | set(head.get("retired_columns", []))
            ) - head_names
            for name in new_fields:
                if name not in head_names and name in unavailable:
                    raise ValueError(
                        f"column name {name!r} is the PHYSICAL name of a "
                        "renamed or dropped column and cannot be reused "
                        "(files still carry it); pick another name"
                    )
            for fld in prev_schema.fields:
                if fld.name not in new_fields:
                    raise ValueError(
                        f"append drops column {fld.name!r}; schema evolution "
                        "is additive-only (use mode='overwrite' to re-shape)"
                    )
                if new_fields[fld.name] != fld.dataType:
                    raise ValueError(
                        f"append retypes column {fld.name!r} "
                        f"({fld.dataType.simpleString()} -> "
                        f"{new_fields[fld.name].simpleString()})"
                    )
    effective_exp = dict(expectations or {})
    if mode == "append":
        effective_exp = {**head.get("expectations", {}), **effective_exp}
    if effective_exp:
        _enforce_expectations(df, effective_exp)
    v = _claim_version(table_dir, versions(table_dir))
    rel_dir = os.path.join("data", f"v{v}")
    bmap = _mapping(head) if mode == "append" else {}
    _to_physical(df, bmap).write.mode("overwrite").parquet(
        os.path.join(table_dir, rel_dir)
    )
    new_files, file_meta = _stage_files(
        table_dir, rel_dir,
        coalesce_small=not (mode == "append" and _layout_bound(head)),
    )
    stats = {}
    if stats_cols:
        for rel in new_files:
            stats[rel] = _file_stats(
                os.path.join(table_dir, rel),
                [bmap.get(c, c) for c in stats_cols],
            )
    if mode == "append":
        carried = head["files"]
        stats = {**head.get("stats", {}), **stats}
        file_meta = {**head.get("file_meta", {}), **file_meta}
    else:
        carried = []
    manifest = {
        "version": v,
        "mode": mode,
        "branch": branch,
        "parent": r["version"],
        "files": carried + new_files,
        "stats": stats,
        "file_meta": file_meta,
        "schema": json.loads(df.schema.json()),
        "expectations": effective_exp,
        # explicit like write_version: append carries the head's
        # mapping + retired-name ledger, overwrite clears both (the
        # new files ARE the physical truth for the branch lane)
        "column_mapping": bmap,
        "retired_columns": (
            list(head.get("retired_columns", [])) if mode == "append" else []
        ),
    }
    if mode == "append":
        manifest.update(
            _bloom_manifest_fields(
                df.sparkSession, table_dir, head, new_files, file_meta, v
            )
        )
    if mode == "append" and head.get("dv"):
        manifest["dv"] = head["dv"]
        manifest["dv_rows"] = head.get("dv_rows", 0)
    if batch_id is not None:
        manifest["batch_id"] = batch_id
    # Serialize behind in-flight lower claims before publishing: a
    # branch commit that publishes ahead of a mid-write main committer
    # would advance the idx checkpoint past the main version while it
    # is still unindexed (the late-insert path in _update_main_idx is
    # the backstop; this wait keeps commit order == claim order).
    _await_predecessors(table_dir, v)
    _commit_manifest(table_dir, v, manifest)
    _write_ref(table_dir, branch, {**r, "version": v}, create=False)
    return v


def foreach_batch_branch(
    table_dir: str,
    branch: str,
    stats_cols: list[str] | None = None,
):
    """writeStream.foreachBatch body STAGING each micro-batch onto a
    WAP branch instead of main — the streaming half of write-audit-
    publish: ingestion lands continuously but stays invisible to every
    default reader until an audited `publish_branch` fast-forwards
    main onto the staged snapshot. Exactly-once via the batch-id
    token, like `foreach_batch_snapshot`. The quarantine-by-default
    ingestion front door: at 100 TB you never let a raw crawl batch
    become the table's latest without an audit between."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        write_branch(
            batch_df,
            table_dir,
            branch,
            stats_cols=stats_cols,
            batch_id=batch_id,
        )

    return apply


def publish_branch(
    table_dir: str,
    branch: str,
    spark: SparkSession | None = None,
    audit: dict[str, str] | None = None,
) -> int:
    """The A+P of write-audit-publish: optionally AUDIT the branch head
    (``audit`` = {name: SQL predicate} CHECK constraints evaluated over
    the staged snapshot — requires ``spark``; a violation raises and
    main is untouched), then PUBLISH by committing a main-line version
    that carries the branch head's file list BY NAME — zero data I/O,
    one atomic manifest replace, and default readers atomically see
    exactly the audited bytes.

    Fast-forward only: if main advanced past the branch's fork base,
    publishing would silently drop those commits, so it raises instead
    (re-branch from the new head and re-stage — the Iceberg
    fast_forward contract). The branch ref survives publication;
    drop_ref it when the staging lane is done."""
    r = refs(table_dir).get(branch)
    if r is None or r.get("type") != "branch":
        raise FileNotFoundError(f"no branch {branch!r} in {table_dir}")
    head_v = r["version"]
    head = _load_manifest(table_dir, head_v)
    if "branch" not in head:
        # branch never written to: publishing is a no-op (head IS main)
        return head_v
    if audit:
        if spark is None:
            raise ValueError("audit requires a SparkSession")
        _enforce_expectations(read_version(spark, table_dir, head_v), audit)
    for _attempt in range(4):
        main = main_versions(table_dir)
        if main and main[-1] != r.get("base", main[-1]):
            raise RuntimeError(
                f"publish_branch: main advanced to v{main[-1]} past the "
                f"branch fork base v{r.get('base')}; fast-forward publish "
                "would drop those commits — re-branch and re-stage"
            )
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir) != main:
            _release_claim(table_dir, v)
            continue
        manifest = {
            "version": v,
            "mode": "publish",
            "published_from": head_v,
            "files": head["files"],
            "stats": head.get("stats", {}),
            "file_meta": head.get("file_meta", {}),
            "schema": head.get("schema"),
            "expectations": head.get("expectations", {}),
        }
        if head.get("bloom_cols"):
            manifest["bloom_cols"] = head["bloom_cols"]
            if head.get("bloom_indexes"):
                manifest["bloom_indexes"] = head["bloom_indexes"]
        if head.get("dv"):
            manifest["dv"] = head["dv"]
            manifest["dv_rows"] = head.get("dv_rows", 0)
        _commit_manifest(table_dir, v, manifest)
        _write_ref(table_dir, branch, {**r, "base": v}, create=False)
        return v
    raise RuntimeError(
        f"publish_branch: lost the optimistic-conflict race 4 times on {table_dir}"
    )


# --- restore + shallow clone -----------------------------------------


def restore(table_dir: str, version: int) -> int:
    """RESTORE (the Delta RESTORE / Iceberg rollback): make an earlier
    snapshot the table's latest by committing a NEW version that
    carries the old version's file list, schema, expectations, and
    sidecars BY NAME — zero data I/O, one atomic manifest replace, and
    the bad commits stay in history for forensics (time travel still
    reads them until retention expires). The rollback move after a bad
    publish or a botched delete. Restoring to a version inside the
    current retention window is always safe; restoring to one already
    vacuumed raises like any read of it would."""
    vs = versions(table_dir)
    if version not in vs:
        raise FileNotFoundError(f"snapshot v{version} not committed in {table_dir}")
    src = _load_manifest(table_dir, version)
    for _attempt in range(4):
        main = main_versions(table_dir)
        v = _claim_version(table_dir, vs)
        _await_predecessors(table_dir, v)
        if main_versions(table_dir) != main:
            _release_claim(table_dir, v)
            vs = versions(table_dir)
            continue
        manifest = {
            "version": v,
            "mode": "restore",
            "restored_from": version,
            "files": list(src["files"]),
            "stats": src.get("stats", {}),
            "file_meta": src.get("file_meta", {}),
            "schema": src.get("schema"),
            "expectations": src.get("expectations", {}),
            # the restored version's OWN mapping/ledger, even {} — the
            # current head's must not leak onto older bytes
            "column_mapping": src.get("column_mapping", {}),
            "retired_columns": src.get("retired_columns", []),
        }
        for key in ("dv", "dv_rows", "bloom_cols", "bloom_indexes"):
            if key in src:
                manifest[key] = src[key]
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"restore: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def shallow_clone(src_dir: str, dst_dir: str, version: int | None = None) -> int:
    """SHALLOW CLONE (the Delta shallow clone): create a NEW table at
    ``dst_dir`` whose v1 references the source snapshot's data files
    IN PLACE by absolute path — zero data copied, instant, and fully
    writable: appends/deletes/updates on the clone commit clone-local
    files while the borrowed source files keep serving the unchanged
    rows (`_file_rel_expr` resolves both spellings transparently in
    every tagged scan). The experimentation front door: fork a 100 TB
    corpus, try a cleanup recipe, diff, throw the clone away.

    Contracts (the same ones Delta documents):
    - the clone's vacuum NEVER deletes source files (guarded by the
      table-root check) — but it also cannot protect them: vacuuming
      or deleting the SOURCE can invalidate clones, exactly like
      Delta; pin the source version with a tag for the clone's
      lifetime;
    - sidecar state (deletion vector, bloom indexes) is referenced
      absolutely too, so a clone of a MOR table reads correctly."""
    vs = versions(dst_dir)
    if vs:
        raise ValueError(f"shallow_clone: {dst_dir} already has committed versions")
    src_abs = os.path.abspath(src_dir)
    if version is None:
        version = main_versions(src_dir)[-1]
    if version not in versions(src_dir):
        raise FileNotFoundError(f"snapshot v{version} not committed in {src_dir}")
    m = _load_manifest(src_dir, version)

    def absolutize(rel: str) -> str:
        return rel if os.path.isabs(rel) else os.path.join(src_abs, rel)

    files = [absolutize(rel) for rel in m["files"]]
    remap = dict(zip(m["files"], files))
    manifest = {
        "version": 1,
        "mode": "clone",
        "cloned_from": {"table": src_abs, "version": version},
        "files": files,
        "stats": {remap[r]: s for r, s in m.get("stats", {}).items() if r in remap},
        "file_meta": {
            remap[r]: fm for r, fm in m.get("file_meta", {}).items() if r in remap
        },
        "schema": m.get("schema"),
        "expectations": m.get("expectations", {}),
        "column_mapping": m.get("column_mapping", {}),
        "retired_columns": m.get("retired_columns", []),
    }
    if "dv" in m:
        manifest["dv"] = absolutize(m["dv"])
        manifest["dv_rows"] = m.get("dv_rows", 0)
    if m.get("bloom_cols"):
        manifest["bloom_cols"] = m["bloom_cols"]
        manifest["bloom_indexes"] = [
            absolutize(rel) for rel in m.get("bloom_indexes", [])
        ]
    v = _claim_version(dst_dir, [])
    _commit_manifest(dst_dir, v, manifest)
    return v


def add_columns(table_dir: str, new_fields: dict[str, str]) -> int:
    """ALTER TABLE ADD COLUMNS — METADATA-ONLY schema evolution (the
    Delta shape): commit a new version carrying the current file list
    verbatim with the schema extended by the given nullable fields
    ({name: Spark type string, e.g. 'bigint', 'string'}). Zero data
    I/O; every existing file serves NULL for the new columns through
    the manifest-pinned schema, and the next append may populate them.
    Duplicate names raise; evolution stays additive-only (drops and
    retypes go through mode='overwrite', as ever). Serialized like
    every commit (claim + predecessor wait + rebase)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    if not new_fields:
        raise ValueError("add_columns: no fields given")
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to alter")
        prev = _load_manifest(table_dir, prior[-1])
        schema = _manifest_schema(prev)
        if schema is None:
            raise ValueError(
                f"{table_dir}: latest manifest predates versioned schemas; "
                "recommit (any append) before altering"
            )
        existing = {f.name for f in schema.fields}
        dup = sorted(set(new_fields) & existing)
        if dup:
            raise ValueError(f"add_columns: columns already exist: {dup}")
        unavailable = (
            set(_mapping(prev).values())
            | set(prev.get("retired_columns", []))
        ) - existing
        reused = sorted(set(new_fields) & unavailable)
        if reused:
            raise ValueError(
                f"add_columns: {reused} are PHYSICAL names of renamed or "
                "dropped columns (files still carry them); pick other names"
            )
        extended = StructType(
            list(schema.fields)
            + [
                StructField(name, _parse_datatype_string(t), True)
                for name, t in sorted(new_fields.items())
            ]
        )
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        manifest = {
            "version": v,
            "mode": "alter",
            "added_columns": sorted(new_fields),
            "files": list(prev["files"]),
            "stats": prev.get("stats", {}),
            "file_meta": prev.get("file_meta", {}),
            "schema": json.loads(extended.json()),
            "expectations": prev.get("expectations", {}),
            "column_mapping": _mapping(prev),
        }
        for key in ("dv", "dv_rows", "bloom_cols", "bloom_indexes"):
            if key in prev:
                manifest[key] = prev[key]
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"add_columns: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def _constraint_refs(prev: dict, name: str) -> list[str]:
    """Table properties that reference a column by name — a rename or
    drop of such a column is refused (Delta restricts constrained-
    column renames the same way): the caller clears/re-declares the
    constraint first. This guard is ALSO what keeps every constrained
    column identity-mapped, so bloom/partition/unique-key machinery
    never needs name translation."""
    refs = []
    if name in prev.get("partition_by", []):
        refs.append("partition_by")
    if name in prev.get("unique_keys", []):
        refs.append("unique_keys")
    if name in prev.get("bloom_cols", []):
        refs.append("bloom_cols")
    import re

    pat = re.compile(rf"\b{re.escape(name)}\b")
    for cname, pred in prev.get("expectations", {}).items():
        if pat.search(pred):
            refs.append(f"expectation:{cname}")
    return refs


def _alter_mapping_commit(table_dir: str, op: str, build) -> int:
    """Shared optimistic-commit loop for the metadata-only schema
    edits (rename/drop): `build(prev, schema)` returns the manifest
    field overrides or raises."""
    for _attempt in range(4):
        prior = main_versions(table_dir)
        if not prior:
            raise ValueError(f"{table_dir}: no committed snapshot to alter")
        prev = _load_manifest(table_dir, prior[-1])
        schema = _manifest_schema(prev)
        if schema is None:
            raise ValueError(
                f"{table_dir}: latest manifest predates versioned schemas; "
                "recommit (any append) before altering"
            )
        overrides = build(prev, schema)
        v = _claim_version(table_dir, versions(table_dir))
        _await_predecessors(table_dir, v)
        if main_versions(table_dir)[-1] != prior[-1]:
            _release_claim(table_dir, v)
            continue
        manifest = {
            "version": v,
            "mode": op,
            "files": list(prev["files"]),
            "stats": prev.get("stats", {}),
            "file_meta": prev.get("file_meta", {}),
            "expectations": prev.get("expectations", {}),
            **overrides,
        }
        for key in ("dv", "dv_rows", "bloom_cols", "bloom_indexes"):
            if key in prev:
                manifest[key] = prev[key]
        _commit_manifest(table_dir, v, manifest)
        return v
    raise RuntimeError(
        f"{op}: lost the optimistic-conflict race 4 times on {table_dir}"
    )


def rename_column(table_dir: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — METADATA-ONLY via column mapping
    (the Delta column-mapping model): data files keep the column under
    its immutable PHYSICAL name forever; this commit only edits the
    logical schema and the logical->physical map, so ZERO bytes move
    at any table size. Reads of every version return that version's
    OWN logical names (time travel across the rename shows the old
    name, as Delta does); appends after the rename keep writing the
    physical name. Renames of columns referenced by partition_by /
    unique_keys / bloom_cols / CHECK expectations are refused — clear
    the constraint first — which also pins every constrained column to
    an identity mapping. The freed logical name stays RESERVED as a
    physical name (reusing it would alias old bytes)."""
    from pyspark.sql.types import StructField, StructType

    def build(prev: dict, schema) -> dict:
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        if not new.isidentifier():
            raise ValueError(f"rename_column: invalid column name {new!r}")
        refs = _constraint_refs(prev, old)
        if refs:
            raise ValueError(
                f"rename_column: {old!r} is referenced by {refs}; "
                "clear those constraints first"
            )
        mp = _mapping(prev)
        physical_in_use = {mp.get(n, n) for n in names}
        retired = set(prev.get("retired_columns", []))
        if new in physical_in_use or new in retired:
            raise ValueError(
                f"rename_column: {new!r} is a PHYSICAL name still carried "
                "by data files; pick another name"
            )
        phys = mp.pop(old, old)
        if phys != new:
            mp[new] = phys
        renamed = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return {
            "renamed_column": [old, new],
            "schema": json.loads(renamed.json()),
            "column_mapping": mp,
            "retired_columns": sorted(retired),
        }

    return _alter_mapping_commit(table_dir, "rename_column", build)


def drop_column(table_dir: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — METADATA-ONLY via column mapping:
    the column leaves the logical schema and the map; its bytes stay
    in existing files (unread — the manifest-pinned physical schema
    never asks for them; a later full `compact()` rewrites them away
    for real because it reads logical rows and writes clean files).
    The physical name joins the RETIRED ledger so no later add/rename
    can alias the dead bytes. Constrained columns are refused, as in
    `rename_column`; dropping the last column is refused."""
    from pyspark.sql.types import StructType

    def build(prev: dict, schema) -> dict:
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"drop_column: no column {name!r}")
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        refs = _constraint_refs(prev, name)
        if refs:
            raise ValueError(
                f"drop_column: {name!r} is referenced by {refs}; "
                "clear those constraints first"
            )
        mp = _mapping(prev)
        phys = mp.pop(name, name)
        retired = sorted(set(prev.get("retired_columns", [])) | {phys})
        shrunk = StructType([f for f in schema.fields if f.name != name])
        return {
            "dropped_column": name,
            "schema": json.loads(shrunk.json()),
            "column_mapping": mp,
            "retired_columns": retired,
        }

    return _alter_mapping_commit(table_dir, "drop_column", build)


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, predicate: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT — attach a CHECK expectation to the
    table as a metadata commit, after VALIDATING the current snapshot
    against it (the Delta contract: a constraint may only be added if
    every existing row already satisfies it; one aggregate scan, the
    same gate every later append re-enforces). Duplicate names raise."""

    def build(prev: dict, schema) -> dict:
        exp = dict(prev.get("expectations", {}))
        if name in exp:
            raise ValueError(f"add_constraint: {name!r} already exists")
        head = read_version(spark, table_dir)
        _enforce_expectations(head, {name: predicate})
        exp[name] = predicate
        return {
            "added_constraint": name,
            "schema": json.loads(schema.json()),
            "expectations": exp,
        }

    return _alter_mapping_commit(table_dir, "add_constraint", build)


def drop_constraint(table_dir: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — remove a CHECK expectation as a
    metadata commit (later appends stop enforcing it; history keeps
    each version's own constraint set). Unknown names raise."""

    def build(prev: dict, schema) -> dict:
        exp = dict(prev.get("expectations", {}))
        if name not in exp:
            raise ValueError(f"drop_constraint: no constraint {name!r}")
        del exp[name]
        return {
            "dropped_constraint": name,
            "schema": json.loads(schema.json()),
            "expectations": exp,
        }

    return _alter_mapping_commit(table_dir, "drop_constraint", build)


def describe_detail(table_dir: str) -> dict:
    """DESCRIBE DETAIL: one metadata-only dict of the table's current
    facts (the Delta command's twin) — latest main version, file/row/
    byte totals net of deletion vectors, schema column names, CHECK
    constraint names, bloom columns, refs, and the version count by
    commit mode. Zero data I/O, zero Spark jobs."""
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    main = main_versions(table_dir)
    head = _load_manifest(table_dir, main[-1]) if main else {}
    meta = head.get("file_meta", {})
    have_all = all(rel in meta for rel in head.get("files", []))
    schema = _manifest_schema(head)
    modes: dict[str, int] = {}
    for v in vs:
        m = _load_manifest(table_dir, v).get("mode", "append")
        modes[m] = modes.get(m, 0) + 1
    return {
        "version": main[-1] if main else None,
        "n_versions": len(vs),
        "n_files": len(head.get("files", [])),
        "n_rows": (
            sum(meta[r]["rows"] for r in head["files"]) - head.get("dv_rows", 0)
            if have_all
            else None
        ),
        "n_bytes": (
            sum(meta[r]["bytes"] for r in head["files"]) if have_all else None
        ),
        "columns": [f.name for f in schema.fields] if schema else None,
        "expectations": sorted(head.get("expectations", {})),
        "bloom_cols": head.get("bloom_cols", []),
        "partition_by": head.get("partition_by", []),
        "unique_keys": head.get("unique_keys", []),
        "dv_rows": head.get("dv_rows", 0),
        "refs": {n: r["version"] for n, r in refs(table_dir).items()},
        "commit_modes": modes,
    }
