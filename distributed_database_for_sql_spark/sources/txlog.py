"""Delta-style transaction-log table format, implemented natively on
parquet + a JSON commit log (SURVEY.md §1.3: the ACID "durability twin" of
the reference's replicated command log, /root/reference/src/raft/
replication.go:88-103 — there the log IS the database; here the log is the
table's source of truth and parquet files are immutable segments).

The delta-spark jars are not in this image (and installs are out of
scope), so this module re-implements the PUBLIC Delta Lake log protocol
shape (an ordered log of add/remove file actions; snapshot = replay;
time travel = replay a prefix) directly over the DataFrame API:

- ``create`` / ``append``   — write immutable parquet segments, commit an
  ordered JSON entry listing the files added.
- ``merge_upsert``          — copy-on-write MERGE: only the segments that
  actually contain matched keys are rewritten (file pruning via a
  semi-join on ``input_file_name``); untouched segments carry over by
  reference.  Merge cost scales with the touched fraction, not the table.
- ``read(version=...)``     — snapshot isolation + time travel: replaying
  commits ``0..v`` yields exactly the files live at version ``v``;
  readers never see a half-committed write because the commit file is
  fully written + fsync'd to a temp name and published with ``os.link``
  (atomic put-if-absent of COMPLETE content).
- ``history``               — the commit log as a DataFrame.

Commit concurrency is optimistic: the next version number is claimed by
exclusive-create of ``_txlog/{version:08d}.json``; a loser re-reads the
log and retries (classic OCC, same as Delta's LogStore contract).  On a
single POSIX fs the exclusive create is atomic; on an object store this
maps to a put-if-absent primitive.  MERGE commits additionally record
the key range (column, min, max) they touched, and a writer whose key
range intersects a concurrent MERGE's raises a conflict — closing the
write-skew window where two insert-arm merges of the same key would
both commit and silently duplicate rows.

Log checkpointing (Delta's ``_last_checkpoint`` pattern): every
``checkpoint_interval`` commits a snapshot manifest
(``{version:08d}.checkpoint.json`` — the full active file set + schema
at that version) is written and ``_last_checkpoint`` is atomically
repointed.  Snapshot resolution then replays only the commits AFTER the
best checkpoint ≤ the requested version, so read planning stays O(N)
bounded instead of O(commits) — the piece that keeps a continuously
merged table readable after millions of streaming commits.  Checkpoints
are derived data: losing one (or crashing mid-write) only means a
longer replay, never wrong answers.

File statistics + data skipping (Delta's ``stats`` field): every add
action records per-file min/max/nullCount harvested from the parquet
FOOTER at write time (metadata-only read, O(files) not O(data));
``prune_files``/``read_where`` prove files irrelevant to a predicate
from those stats alone and never open them.  Checkpoints carry the
stats forward so skipping never pays a log replay.

Change Data Feed (Delta CDF): with ``enable_cdf=True``, MERGE/DELETE
persist their row-level changes (update pre/postimages, inserts,
deletes) under ``_change_data/`` and record them in the commit;
``read_changes(a, b)`` serves the concatenated change stream with
``_change_type``/``_commit_version`` columns.  Appends synthesize
insert rows directly from their added segments — no extra storage.

Idempotent writes (Delta's ``txn``/SetTransaction action): an append
carrying ``txn_app_id``/``txn_version`` is a no-op if that (app,
version) already committed — ``streaming_sink`` builds the
exactly-once foreachBatch writer on it (a restarted stream replays its
last epoch id; the replay commits nothing twice).

CHECK constraints (``add_constraint``): write-time enforcement — every
append/MERGE/UPDATE validates the incoming rows (one aggregate over
the write set, never the table) and raises on violation.

SHALLOW CLONE (``clone_to``): zero-copy table clone referencing the
source snapshot's segments by path; O(files) metadata, independent
evolution afterwards.

OPTIMIZE ZORDER (``optimize_compact(zorder_by=...)``): Morton-order
layout so file stats stay tight in several dimensions at once and
``prune_files`` skips segments for predicates on any z-ordered column.

At 100 TB: segments are immutable parquet (scan parallelism = file
count), the log is O(commits) tiny JSON with O(N)-bounded replay via
checkpoints, snapshot resolution is driver-side metadata only, MERGE
rewrites only matched segments, stats-pruned reads open only the
segments a key/time-range predicate can touch, and incremental
consumers tail the change feed instead of rescanning — the same shapes
that make real Delta viable at scale.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import glob
import hashlib
import json
import operator
import os
import re
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_LOG_DIR = "_txlog"
_LAST_CHECKPOINT = "_last_checkpoint"

# Protocol fencing (Delta's protocol action): the newest reader/writer
# contract this implementation understands.  Deletion vectors bump a
# table to (3, 7) — the same versions real Delta assigns the feature —
# so a hypothetical older reader fails loudly instead of resurrecting
# tombstoned rows.
_SUPPORTED_READER_VERSION = 3
_SUPPORTED_WRITER_VERSION = 7

# Delta 3.x table features (protocol actions at (3, 7) carry explicit
# readerFeatures/writerFeatures string sets): a reader must refuse a
# table listing a READER feature it does not implement (silently
# ignoring one — say deletionVectors — would return wrong rows), while
# an unknown WRITER feature only fences writes — reads stay legal.
# That split is the whole point of the feature model: adding a
# writer-only feature (e.g. identity columns) no longer locks old
# readers out.
_SUPPORTED_READER_FEATURES = frozenset({
    "deletionVectors", "columnMapping", "typeWidening", "v2Checkpoint",
})
_SUPPORTED_WRITER_FEATURES = frozenset({
    "deletionVectors", "columnMapping", "typeWidening", "identityColumns",
    "generatedColumns", "checkConstraints", "changeDataFeed", "appendOnly",
    "rowTracking", "clustering", "allowColumnDefaults", "v2Checkpoint",
    "domainMetadata",
})


def _parse_size(s: str) -> int:
    """'134217728' / '128mb' / '1gb' / '512kb' → bytes."""
    m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*(b|kb|mb|gb)?\s*$", s,
                 re.IGNORECASE)
    if not m:
        raise ValueError(f"bad size {s!r}: use bytes or kb/mb/gb suffix")
    mult = {"b": 1, "kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30}[
        (m.group(2) or "b").lower()]
    return int(float(m.group(1)) * mult)


def _stat_value(v):
    """Coerce a parquet-footer statistic to a JSON-storable value whose
    ordering matches the column's value ordering (dates/timestamps →
    ISO strings, same trick as ``_json_key``).  None = unusable."""
    if isinstance(v, bool) or v is None:
        return None  # boolean min/max is useless for range pruning
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return None


def _file_stats(abs_path: str) -> dict | None:
    """Per-file column statistics from the parquet FOOTER (metadata-only
    read — no data pages touched, the property that makes stats
    collection O(files) instead of O(data) and lets a 100 TB writer
    record them at write time for free).  Shape mirrors Delta's
    ``stats`` JSON: numRecords + min/max/nullCount per top-level leaf
    column that carries footer statistics."""
    try:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(abs_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested/list leaf: not a top-level column
                continue
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no min/max")
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            except Exception:  # absent stats, or pyarrow cannot decode
                #                the type's statistics (e.g. decimal)
                mins[name] = maxs[name] = None
                continue
            if lo is None or hi is None:
                mins[name] = maxs[name] = None
                continue
            if name not in mins or (mins[name] is not None and lo < mins[name]):
                mins[name] = lo
            if name not in maxs or (maxs[name] is not None and hi > maxs[name]):
                maxs[name] = hi
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return {
        "numRecords": md.num_rows,
        "minValues": {k: _truncate_min(v) for k, v in mins.items()
                      if v is not None},
        "maxValues": {k: _truncate_max(v) for k, v in maxs.items()
                      if v is not None},
        "nullCount": nulls,
    }


#: Delta truncates string min/max stats to 32 characters so a text-heavy
#: table (documents corpora) does not bloat every commit/checkpoint with
#: kilobytes of min/max payload per file — at 100 TB the log IS the hot
#: metadata path.  Soundness: a PREFIX of the min is still a lower
#: bound; the max must be truncated-then-INCREMENTED (smallest string
#: greater than everything sharing the prefix) to stay an upper bound.
_STAT_MAX_STRING = 32


def _truncate_min(v):
    if isinstance(v, str) and len(v) > _STAT_MAX_STRING:
        return v[:_STAT_MAX_STRING]
    return v


def _truncate_max(v):
    if not (isinstance(v, str) and len(v) > _STAT_MAX_STRING):
        return v
    prefix = v[:_STAT_MAX_STRING]
    # increment the last incrementable character and drop the tail —
    # yields the smallest string above every string with this prefix
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x10FFFF:
            nxt = ord(prefix[i]) + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000  # skip the surrogate range (not JSON-safe)
            return prefix[:i] + chr(nxt)
    return v  # every char is U+10FFFF: cannot truncate soundly


_BLOOM_BITS_PER_ROW = 10  # ~1% false-positive rate with k=3 hashes
_BLOOM_HASHES = 3
#: Persisted bloom format version.  v2 = _bloom_canon hashing (type-
#: insensitive canonical forms).  Blooms persisted WITHOUT a version
#: marker were built by the pre-canonicalization code (repr-based
#: hashing): their bits do not line up with today's hash function, so a
#: negative probe against one proves nothing — _file_may_match must
#: ignore them (degrade to range-check-only) instead of treating the
#: stale negative as proof of absence and silently pruning files that
#: contain matching rows (ADVICE r7).  v3 = date/datetime hash their
#: ISOFORMAT ('T' separator, matching _stat_value/_json_key — ADVICE
#: r14's coercion unification) instead of str(); v2 blooms on
#: date/timestamp-keyed tables are likewise ignored-not-trusted.
_BLOOM_FORMAT_VERSION = 3


def _bloom_canon(value) -> str:
    """Type-insensitive canonical form for bloom hashing (ADVICE r6).

    The min/max range path coerces via ``_json_key`` and Python equality
    treats ``5 == 5.0 == Decimal('5')``, so the bloom must never be
    STRICTER than the range check: a probe whose literal type differs
    from the stored column type (float ``5.0`` or string ``'5'`` against
    an int column) must still hash to the stored value's bits, or the
    negative becomes a false "proof of absence" and ``prune_files`` /
    ``read_where`` silently drop files that contain matching rows.
    Numerics (bool/int/float/Decimal/numpy scalars) fold to one numeric
    repr; strings that parse as numbers fold to the same.  The folding
    only ever ADDS collisions (false positives), which are safe — they
    fall through to the range check; false negatives are wrong results.
    Dates/decimals stringify exactly the way ``_json_key`` does."""
    import numbers

    if isinstance(value, bool):
        value = int(value)
    if isinstance(value, str):
        try:
            value = float(value)
        except ValueError:
            return "str:" + value
    if isinstance(value, numbers.Number):
        f = float(value)
        if f.is_integer():
            return f"num:{int(f)}"
        return f"num:{f!r}"
    if isinstance(value, (bytes, bytearray)):
        return "bytes:" + bytes(value).hex()
    if isinstance(value, (datetime.date, datetime.datetime)):
        # isoformat, NOT str(): a string probe coerced through
        # _coerce_probe_literal / _json_key carries the 'T' separator,
        # and the bloom must hash the same text or its negative becomes
        # a false proof of absence (the v3 format marker above)
        return "str:" + value.isoformat()
    return "str:" + str(value)


def _bloom_hash_indices(value, m: int) -> list[int]:
    """Deterministic double-hashing (md5-based, engine-portable): the
    same value always sets/tests the same ``k`` of ``m`` bits, on any
    host, any process, any PYTHONHASHSEED."""
    import hashlib
    digest = hashlib.md5(_bloom_canon(value).encode()).digest()
    h1 = int.from_bytes(digest[:8], "big")
    h2 = int.from_bytes(digest[8:], "big") | 1  # odd: full cycle mod m
    return [(h1 + i * h2) % m for i in range(_BLOOM_HASHES)]


def _build_bloom(values, n_rows: int) -> dict:
    """Per-file Bloom filter over a column's non-null values →
    {"v": format, "m": bits, "b": hex bitset}.  Sized at ~10 bits/row
    (≈1% FPR).  The "v" marker versions the HASH FUNCTION — see
    _BLOOM_FORMAT_VERSION."""
    m = max(64, n_rows * _BLOOM_BITS_PER_ROW)
    bits = bytearray((m + 7) // 8)
    for v in values:
        if v is None:
            continue
        for idx in _bloom_hash_indices(v, m):
            bits[idx // 8] |= 1 << (idx % 8)
    return {"v": _BLOOM_FORMAT_VERSION, "m": m, "b": bytes(bits).hex()}


def _bloom_may_contain(bloom: dict, value) -> bool:
    bits = bytes.fromhex(bloom["b"])
    return all(bits[i // 8] & (1 << (i % 8))
               for i in _bloom_hash_indices(value, bloom["m"]))


def _file_may_match(stats: dict | None, col: str, op: str, value) -> bool:
    """Can a file with these footer stats contain a row satisfying
    ``col op value``?  Missing stats → True (conservative: never skip
    what you cannot prove empty), exactly like Delta data skipping."""
    if stats is None:
        return True
    pv = stats.get("partitionValues", {})
    if col in pv:
        # Partition value: exact per-file constant.  Dir names are
        # strings, so only equality is decided here (safe for any type:
        # both sides stringified identically); range ops fall through to
        # footer stats (absent for partition columns → file kept).
        if op == "=":
            return pv[col] == str(value)
        return True
    if op == "=":
        # Bloom index (Delta's bloom filter index): decisive for point
        # lookups even when every file's min/max range overlaps the key
        # (hash-distributed layouts).  A negative is PROOF of absence;
        # a positive falls through to the range check.  A bloom persisted
        # under an OLDER hash-function version proves nothing (its bits
        # were set by a different hash) — ignore it so pre-existing
        # tables degrade to range-check-only instead of losing rows.
        bloom = stats.get("bloom", {}).get(col)
        if (bloom is not None
                and bloom.get("v") == _BLOOM_FORMAT_VERSION
                and not _bloom_may_contain(bloom, value)):
            return False
    lo = stats.get("minValues", {}).get(col)
    hi = stats.get("maxValues", {}).get(col)
    if lo is None or hi is None:
        return True
    try:
        if op == "between":
            vlo, vhi = (_json_key(v) for v in value)
            return lo <= vhi and hi >= vlo
        value = _json_key(value)
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # incomparable types: cannot prove skippable
    raise ValueError(f"unsupported skipping predicate op: {op!r}")


_ZORDER_BITS = 21  # per-dimension bits; 2 dims fit a 42-bit long


def _zorder_value(cols: list[str]):
    """Bit-interleaved Morton/Z-value Column over integer columns —
    round-robin one bit per dimension, low bits first.  Plain shift/mask
    arithmetic (JVM-side, codegen-friendly); negative or non-integer
    keys should be dictionary-encoded first by the caller."""
    n = len(cols)
    terms = []
    for b in range(_ZORDER_BITS):
        for i, c in enumerate(cols):
            terms.append(
                F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * n + i)).cast("long"))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _is_commit_name(name: str) -> bool:
    """True for ``00000003.json``; False for checkpoint/tmp files."""
    stem, dot, ext = name.partition(".")
    return ext == "json" and stem.isdigit()


def _json_key(v):
    """Coerce a merge-key bound to a JSON-storable, order-preserving value.

    Dates/timestamps MUST use the same textual form as ``_stat_value``
    (``isoformat()``, 'T' separator): ``_key_probe_candidates`` compares
    these bounds against footer stats recorded by ``_stat_value``, and
    ``str(datetime)`` uses a space separator which sorts BEFORE digits
    and 'T', silently inverting same-day comparisons (ADVICE r14 — a
    file holding matching keys could be wrongly pruned)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()  # matches _stat_value exactly
    return str(v)  # decimals: str ordering matches value ordering


def _split_top_and(s: str) -> tuple[list[str], bool]:
    """Split a SQL boolean expression on TOP-LEVEL ``AND`` keywords,
    respecting single-quoted literals.  Returns (parts, balanced_quotes);
    unbalanced quotes mean the caller must not trust the split."""
    parts: list[str] = []
    buf: list[str] = []
    inq = False
    up = s.upper()
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "'":
            inq = not inq
            buf.append(ch)
            i += 1
            continue
        if (not inq and up.startswith("AND", i)
                and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
                and (i + 3 >= len(s)
                     or not (s[i + 3].isalnum() or s[i + 3] == "_"))):
            parts.append("".join(buf))
            buf = []
            i += 3
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts, not inq


_TRIPLE_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*(<=|>=|=|<|>)\s*"
    r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$")
_TRIPLE_FLIP_RE = re.compile(
    r"^\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*(<=|>=|=|<|>)\s*"
    r"([A-Za-z_]\w*)\s*$")
_FLIP_OP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


def sql_predicate_triples(cond: str | None) -> list[tuple]:
    """Best-effort translation of a SQL boolean expression into
    ``(column, op, value)`` conjunct triples for ``prune_files`` — the
    predicate translator the UPDATE/DELETE SQL surface feeds so their
    probes skip files by footer stats instead of scanning the full
    snapshot (guide §6).

    Conservative by construction: only a top-level AND chain of
    ``<identifier> <cmp> <literal>`` (either side) translates; OR / NOT
    / parens / IN / BETWEEN / IS NULL / functions / arithmetic yield no
    triples (or skip that conjunct).  Pruning on a SUBSET of the
    conjuncts is sound — a file with no row satisfying the subset has
    no row satisfying the full AND — and an untranslated condition just
    means no pruning, never a wrong result."""
    if not cond:
        return []
    s = cond.strip()
    parts, balanced = _split_top_and(s)
    if not balanced:
        return []
    # Disjunction/negation OUTSIDE quotes voids the whole parse: an OR
    # makes "keep the conjuncts I understood" unsound (precedence can
    # bind a skipped branch around a kept one).  Everything else —
    # parens, functions, IN/BETWEEN/IS, arithmetic — simply fails the
    # per-conjunct regex below and is skipped, which stays sound under
    # a pure AND chain.
    masked = re.sub(r"'(?:[^']|'')*'", "''", s)
    if re.search(r"\bOR\b|\bNOT\b|\|\|", masked, re.IGNORECASE):
        return []
    out: list[tuple] = []
    for part in parts:
        m = _TRIPLE_RE.match(part)
        if m:
            col, op, lit = m.groups()
        else:
            m = _TRIPLE_FLIP_RE.match(part)
            if not m:
                continue  # un-modeled conjunct: skipping it stays sound
            lit, op, col = m.groups()
            op = _FLIP_OP[op]
        if lit.startswith("'"):
            value: object = lit[1:-1].replace("''", "'")
        elif re.fullmatch(r"-?\d+", lit):
            value = int(lit)
        else:
            value = float(lit)
        out.append((col, op, value))
    return out


def _ranges_intersect(a: dict, b: dict) -> bool:
    """Do two recorded MERGE key ranges overlap?  Different key columns
    never conflict; incomparable bounds (type drift across writers) are
    treated as conflicting — the conservative, safe answer."""
    if a.get("column") != b.get("column"):
        return False
    if None in (a["min"], a["max"], b["min"], b["max"]):
        return True  # NULL bound: cannot prove disjoint
    try:
        return a["min"] <= b["max"] and b["min"] <= a["max"]
    except TypeError:
        return True


class LogStore:
    """Commit-claim primitive behind the transaction log (the shape of
    Delta Lake's public LogStore API).

    The single correctness-bearing storage operation in the whole log
    protocol is :meth:`put_if_absent`: publish a fully-written,
    never-torn file at a path in one atomic step, failing if the path
    already exists.  Everything else the log does — checkpoint
    manifests, ``_last_checkpoint`` pointers — is derived data that only
    needs :meth:`overwrite_atomic` (readers tolerate a stale or missing
    copy).  ``TxLogTable`` routes every log mutation through its
    ``log_store``, so the OCC/conflict-detection protocol is
    store-agnostic and porting to another storage system means
    implementing these two methods, nothing more:

    * POSIX (this default): temp file + fsync + ``os.link`` — hard-link
      creation fails atomically if the target exists.
    * S3: conditional PUT (``If-None-Match: *``) or an external claim
      coordinator — the reason Delta ships S3DynamoDBLogStore.
    * GCS / Azure Blob: native write preconditions
      (``ifGenerationMatch=0`` / ``If-None-Match``) satisfy the contract
      directly.
    """

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Atomically create ``path`` with ``data``; False if it exists.

        Readers must never observe a torn file: the content is durable
        (fsync) before the name is published, and the publish step
        (hard link) is all-or-nothing."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(os.path.dirname(path),
                           f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def overwrite_atomic(self, path: str, data: bytes) -> None:
        """Replace ``path`` with ``data`` in one visible step.  Used only
        for derived artifacts (checkpoints, ``_last_checkpoint``): losing
        a race here costs replay length, never correctness."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(os.path.dirname(path),
                           f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)


class TxLogTable:
    """Handle to a transaction-log table rooted at ``path``."""

    #: write a checkpoint manifest every N commits (Delta defaults to 10)
    checkpoint_interval: int = 10

    def __init__(self, spark: SparkSession, path: str,
                 checkpoint_interval: int | None = None,
                 enable_cdf: bool = False,
                 log_store: LogStore | None = None):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        #: all log mutations go through this (LogStore contract above);
        #: tests inject racing/faulty stores to prove the OCC protocol is
        #: storage-agnostic.
        self.log_store = log_store if log_store is not None else LogStore()
        if checkpoint_interval is not None:
            self.checkpoint_interval = checkpoint_interval
        #: when True, MERGE/DELETE persist row-level change data
        #: (Delta's Change Data Feed) under _change_data/ and record it
        #: in the commit; ``read_changes`` serves it back.  Appends need
        #: no extra storage — their change rows ARE the added segments.
        self.enable_cdf = enable_cdf
        #: multi-statement transaction state (begin_transaction): a list
        #: of staged {actions, removed, key_ranges} per operation, served
        #: back as virtual log versions so reads through this handle see
        #: the transaction's own effects before commit.
        self._staged: list[dict] | None = None
        self._txn_base: int | None = None
        #: cleanup throttle (VERDICT r12 item 4): the minimum in-commit
        #: timestamp among checkpoints strictly ABOVE the last collected
        #: retention floor — i.e. the earliest moment a NEW floor can
        #: exist is this + retention.  None = no candidate above the
        #: floor (every checkpoint was collected or is the floor
        #: itself); new checkpoints re-arm it from their own commit ts.
        #: ``_cleanup_seeded`` distinguishes that from a FRESH handle
        #: that has never scanned the log (which must scan once).
        #: Per-writer memory only — a manual cleanup_metadata() call
        #: always does the full scan, so a stale cache can only DELAY
        #: best-effort cleanup, never delete too much.
        self._cleanup_pending_ts: int | None = None
        self._cleanup_seeded: bool = False
        #: UniForm flag cache (None = not yet resolved from properties);
        #: see _maybe_uniform.  ``_uniform_checked_v`` records the table
        #: version the flag was LAST resolved at so a cached False
        #: re-resolves after one checkpoint interval of commits — a
        #: handle opened before another writer called enable_uniform()
        #: must not skip the refresh forever (ADVICE r13).
        self._uniform_enabled: bool | None = None
        self._uniform_checked_v: int = -1

    # -- log plumbing -------------------------------------------------------

    def _next_ts(self) -> int:
        """Monotonic commit timestamp (Delta's in-commit-timestamp
        guarantee): max(wall clock, previous commit ts + 1), so
        ``timestampAsOf`` resolution (version_at_timestamp scans for
        the newest commit ts <= asked) is total-ordered even when two
        commits land in the same millisecond or the clock steps
        backwards.  Reads only the LAST commit file — O(1)."""
        now = int(time.time() * 1000)
        latest = self.latest_version()
        if latest < 0:
            return now
        try:
            for a in self._read_commit(latest):
                if "commit" in a:
                    return max(now, int(a["commit"]["ts"]) + 1)
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            pass
        return now

    def _commit_files(self) -> list[str]:
        return sorted(
            p for p in glob.glob(os.path.join(self.log_dir, "[0-9]*.json"))
            if _is_commit_name(os.path.basename(p))
        )

    def _disk_latest_version(self) -> int:
        files = self._commit_files()
        if not files:
            return -1
        return int(os.path.splitext(os.path.basename(files[-1]))[0])

    def _earliest_version(self) -> int:
        """First commit file still on disk — 0 for a table that has
        never had metadata cleanup, the retention floor afterwards."""
        files = self._commit_files()
        if not files:
            return 0
        return int(os.path.splitext(os.path.basename(files[0]))[0])

    def _require_retained(self, start: int, v: int) -> None:
        """Replay-floor guard: resolving ``v`` needs commits from
        ``start`` up; if metadata cleanup removed them, fail with a
        CLEAR error instead of a FileNotFoundError mid-replay."""
        if start > 0:
            return  # checkpoint-seeded replay: suffix is always retained
        e = self._earliest_version()
        if e > 0:
            raise ValueError(
                f"version {v} predates the retained log — metadata "
                "cleanup (delta.logRetentionDuration) removed commits "
                f"below {e}; the earliest resolvable version is {e}")

    def latest_version(self) -> int:
        disk = self._disk_latest_version()
        if self._staged is not None:
            # staged transaction ops appear as virtual versions past the
            # disk log, so in-transaction reads are read-your-writes
            return disk + len(self._staged)
        return disk

    def _read_commit(self, version: int) -> list[dict]:
        if self._staged is not None:
            disk = self._disk_latest_version()
            if version > disk:
                return self._staged[version - disk - 1]["actions"]
        fp = os.path.join(self.log_dir, f"{version:08d}.json")
        with open(fp) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _try_commit(self, version: int, actions: list[dict]) -> bool:
        """Atomically claim ``version`` via the LogStore's put-if-absent.
        False = lost the race; caller re-reads the log and retries against
        the new state.  Content atomicity (a reader can never observe a
        torn commit; a writer killed mid-write leaves no visible file) is
        the LogStore's contract, not this method's concern."""
        fp = os.path.join(self.log_dir, f"{version:08d}.json")
        data = "".join(json.dumps(a) + "\n" for a in actions).encode()
        return self.log_store.put_if_absent(fp, data)

    def _row_tracking_enabled(self) -> bool:
        if getattr(self, "_pending_row_tracking", False):
            return True
        try:
            return bool(self._meta_state().get("rowTracking"))
        except FileNotFoundError:
            return False

    def _stamp_row_ids(self, actions: list[dict],
                       fresh: set[str] | None = None) -> None:
        """Row tracking (Delta's baseRowId): assign each NEWLY WRITTEN
        file a fresh, contiguous row-id range from the table's
        max-merged high-water mark.  A row's stable id = the file's
        ``baseRowId`` + its physical position — metadata-only at write
        time (the counts come from the footer stats already harvested),
        O(files) driver work.

        ``fresh`` is the set of add paths that need allocation —
        computed ONCE by the caller BEFORE its claim loop as "adds whose
        stats carry no baseRowId yet".  Re-listed files (RESTORE,
        SET ROW TRACKING idempotent re-runs, carried clone segments)
        already carry their baseRowId and are NEVER re-stamped — that
        stability is the entire feature.  The stamping itself is called
        INSIDE the claim loop so an OCC retry re-allocates the SAME
        fresh set past whatever a racing writer just claimed (the same
        re-stamp discipline as the in-commit timestamp).  Files whose
        stats harvest failed (numRecords unknown) carry no baseRowId and
        their rows read a NULL ``_row_id`` — conservative, documented."""
        if not self._row_tracking_enabled():
            return
        if fresh is None:
            fresh = self._fresh_add_paths(actions)
        actions[:] = [a for a in actions if "rowid" not in a]
        base = int(self._meta_state().get("rowIdHighWater", 0)) + 1 \
            if not getattr(self, "_pending_row_tracking", False) else 1
        start = base
        for a in actions:
            add = a.get("add")
            if not add or add["path"] not in fresh:
                continue
            st = add.get("stats")
            n = (st or {}).get("numRecords")
            if st is None or n is None:
                continue
            st["baseRowId"] = base
            base += int(n)
        if base != start:
            actions.append({"rowid": {"highWater": base - 1}})

    @staticmethod
    def _fresh_add_paths(actions: list[dict]) -> set[str]:
        """Add paths with no baseRowId yet (the allocation set)."""
        return {a["add"]["path"] for a in actions
                if "add" in a
                and (a["add"].get("stats") or {}).get("baseRowId") is None}

    def _commit_with_occ(self, actions: list[dict], removed: list[str],
                         base_version: int,
                         key_ranges: list[dict] | None = None,
                         txn: tuple[str, int] | None = None,
                         domains: list[str] | None = None,
                         dv_guards: list[dict] | None = None) -> int:
        """Commit actions computed against the snapshot at
        ``base_version``.  If anything committed after that snapshot
        (claim target > base_version + 1, or a claim race is lost),
        verify (a) no concurrent commit removed one of OUR files — stale
        actions would resurrect deleted/compacted rows — and (b) no
        concurrent MERGE's recorded key range intersects OURS — two
        insert-arm merges of the same key remove no common files yet
        still conflict (write skew: both would commit and duplicate the
        key).  Either case raises; the caller re-runs against the fresh
        snapshot — classic Delta-style conflict detection.  Concurrent
        commits that touched other files AND disjoint key ranges commute
        and commit fine."""
        # every write path funnels here AFTER its segment/CDF writes —
        # the earliest safe point to release the expectation-gate cache
        # this thread pinned (see _apply_expectations)
        self._exp_gc()
        if self._staged is not None:
            # inside a transaction: stage instead of committing; conflict
            # detection runs ONCE at commit_transaction, against the
            # begin snapshot
            self._staged.append({"actions": actions,
                                 "removed": list(removed),
                                 "key_ranges": list(key_ranges or []),
                                 "domains": list(domains or []),
                                 "dv_guards": list(dv_guards or [])})
            return self.latest_version()
        self._assert_writable()
        rid_fresh = (self._fresh_add_paths(actions)
                     if self._row_tracking_enabled() else None)
        while True:
            # Refresh the in-commit timestamp on EVERY attempt (ADVICE r6):
            # call sites stamp ts once before calling in, so a writer that
            # loses a claim race would otherwise retry with a stale ts and
            # could commit version N+1 with ts earlier than version N —
            # breaking the strict monotonicity that version_at_timestamp
            # depends on.  _next_ts re-reads the latest committed ts, so the
            # value is recomputed against whoever just beat us.
            for action in actions:
                c = action.get("commit")
                if c is not None and "ts" in c:
                    c["ts"] = max(int(c["ts"]), self._next_ts())
            self._stamp_row_ids(actions, rid_fresh)
            v = self.latest_version() + 1
            if txn is not None and \
                    self.txn_version_for(txn[0]) >= txn[1]:
                # lost a claim race to a writer that committed this very
                # batch (e.g. the pre-restart attempt of the same
                # streaming epoch): drop ours — the staged segments are
                # unreferenced and vacuum's age guard collects them.
                return self.latest_version()
            if v > base_version + 1:
                active, _ = self._snapshot_files()
                active_rel = {self._rel(p) for p in active}
                gone = [p for p in removed if p not in active_rel]
                if gone:
                    raise RuntimeError(
                        "concurrent commit conflict: segments removed by "
                        f"another writer while this operation ran: {gone}; "
                        "re-run against the current snapshot")
                if domains:
                    # domain-metadata write skew: two writers updating
                    # the SAME domain's config would silently lose one
                    # update — Delta's rule: same domain conflicts,
                    # different domains commute.
                    ours_d = set(domains)
                    for i in range(base_version + 1, v):
                        for action in self._read_commit(i):
                            d = action.get("domainMetadata")
                            if d is not None and d["domain"] in ours_d:
                                raise RuntimeError(
                                    "concurrent commit conflict: version "
                                    f"{i} modified metadata domain "
                                    f"{d['domain']!r}, which this commit "
                                    "also touches; re-read and re-apply")
                if dv_guards:
                    # ROW-LEVEL CONCURRENCY (Delta's DV conflict rule):
                    # two merge-on-read commits tombstoning the SAME
                    # data file commute when their (file, row) sets are
                    # DISJOINT — without this check a concurrent DV
                    # UPDATE pair touching the same row would both
                    # commit and duplicate the row with conflicting
                    # post-images (the base file stays active, so the
                    # removed-segment check above never fires).
                    # delete × delete commutes even on overlap: the
                    # folded tombstone union is idempotent.  The row-set
                    # intersection is only computed on the retry path,
                    # only for SHARED target files, and reads only the
                    # two commits' DV sidecars — O(tombstones on
                    # contended files), never O(table).
                    self._check_dv_row_conflicts(
                        dv_guards, base_version, v)
                ours = list(key_ranges or [])
                if ours:
                    for i in range(base_version + 1, v):
                        for action in self._read_commit(i):
                            c = action.get("commit", {})
                            theirs = ([c["keyRange"]] if "keyRange" in c
                                      else c.get("keyRanges", []))
                            for other in theirs:
                                hit = next(
                                    (r for r in ours
                                     if _ranges_intersect(r, other)), None)
                                if hit is None:
                                    continue
                                raise RuntimeError(
                                    "concurrent commit conflict: version "
                                    f"{i} merged key range "
                                    f"[{other['min']}, {other['max']}] on "
                                    f"column {other['column']!r}, which "
                                    "intersects this MERGE's range "
                                    f"[{hit['min']}, "
                                    f"{hit['max']}]; re-run against "
                                    "the current snapshot")
            if self._try_commit(v, actions):
                self._maybe_crc(v, actions)
                self._maybe_checkpoint(v)
                self._maybe_uniform()
                return v

    def _rel(self, p: str) -> str:
        """Table-relative form of a data path under ``self.path`` (the
        form ``remove``/``add`` actions record)."""
        return os.path.relpath(os.path.normpath(p),
                               os.path.normpath(self.path))

    def _commit_rewrite(self, op: str, base_version: int,
                        removed: list[str], rows: DataFrame,
                        changes=None, *, commit: dict | None = None,
                        actions=(), key_ranges: list[dict] | None = None,
                        txn: tuple[str, int] | None = None) -> int:
        """The shared tail of every copy-on-write statement: write
        ``rows`` as new segments, write the change rows when the table
        has CDF on, then commit — under OCC against ``base_version`` —
        the removal of ``removed`` (paths of the rewritten segments) and
        the new segments as ONE version.

        ``changes`` is a zero-argument callable returning the change
        rows, so a table without CDF never plans them.  The commit
        record always carries ``filesRewritten``/``filesAdded`` plus the
        key ranges (when given) and the op's own ``commit`` fields.
        Action order: commit, ``txn`` (when given), the op's ``actions``
        (identity, schema evolution, SCD2 marks), removes, adds, cdf."""
        rel_new = self._write_segments(rows)
        cdf = ([] if changes is None or not self.enable_cdf else
               [{"cdf": {"path": self._write_change_data(changes())}}])
        rel_removed = [self._rel(p) for p in removed]
        head = {"op": op, "ts": self._next_ts(),
                "filesRewritten": len(rel_removed),
                "filesAdded": len(rel_new)}
        if key_ranges:
            head.update(self._key_range_commit(key_ranges))
        head.update(commit or {})
        txn_action = ([] if txn is None else
                      [{"txn": {"appId": txn[0], "version": int(txn[1])}}])
        return self._commit_with_occ(
            [{"commit": head}] + txn_action + list(actions)
            + [{"remove": {"path": p}} for p in rel_removed]
            + self._add_actions(rel_new) + cdf,
            rel_removed, base_version, key_ranges=key_ranges, txn=txn)

    # -- checkpointing (Delta's _last_checkpoint pattern) ---------------------

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.checkpoint.json")

    def _maybe_checkpoint(self, version: int) -> None:
        """After every ``checkpoint_interval``-th commit, persist the full
        active file set + schema at ``version`` and repoint
        ``_last_checkpoint``.  Both writes are atomic (tmp + rename) and
        the manifest is pure derived data — a crash here costs replay
        length, never correctness.

        Format: JSON by default; ``txlog.checkpoint.format = parquet``
        (table property) switches to a COLUMNAR manifest — one row per
        add action, table-level state in the parquet key-value metadata
        — which is the Delta checkpoint.parquet shape: on a 100k-file
        table the add list dominates the manifest, and columnar +
        compressed beats a monolithic JSON parse on every snapshot
        resolution.  Readers accept both formats interchangeably."""
        if self.checkpoint_interval <= 0 or version <= 0:
            return
        if version % self.checkpoint_interval != 0:
            return
        active, schema_json, dvs = self._snapshot_full(version)
        txns, constraints = self._txn_constraint_state(version)
        manifest = {"protocol": self.protocol(version),
                    "meta": self._meta_state(version),
                    "version": version,
                    "active": list(active),
                    "adds": [{"path": p, "stats": s}
                             for p, s in active.items()],
                    "dvs": dvs,
                    "txns": txns,
                    "constraints": constraints,
                    "domains": self._domain_state(version),
                    "schemaJson": schema_json}
        props = manifest["meta"].get("properties", {})
        fmt = props.get("txlog.checkpoint.format", "json")
        part_size = int(props.get("txlog.checkpoint.partSize", "0"))
        if fmt == "v2" and "v2Checkpoint" not in \
                manifest["protocol"].get("readerFeatures", []):
            # defensive: the v2 format is FENCED behind the v2Checkpoint
            # reader feature (enable_v2_checkpoints sets both together).
            # This runs post-commit — raising would fail a write that is
            # already durable — so an unfenced request degrades to the
            # classic JSON manifest (derived data; correctness is
            # unaffected, only the format differs).
            fmt = "json"
        pointer: dict = {"version": version, "format": fmt}
        if fmt == "v2":
            # Delta 3.x V2 CHECKPOINT (the v2Checkpoint table feature):
            # a metadata-sized TOP manifest (JSON — the spec allows json
            # or parquet tops) carries the table-level state and a
            # ``sidecarFiles`` list; the add list — the only part that
            # scales with file count — lives in parquet SIDECAR files
            # under _txlog/_sidecars/, split at ``partSize`` rows (one
            # sidecar when unset).  Same torn-write contract as the
            # multi-part classic shape: a missing sidecar invalidates
            # the whole checkpoint and resolution falls back to the
            # next older intact one / full replay.
            adds = manifest["adds"]
            per = part_size if part_size > 0 else max(len(adds), 1)
            n = max((len(adds) + per - 1) // per, 1)
            os.makedirs(os.path.join(self.log_dir, "_sidecars"),
                        exist_ok=True)
            sidecars = []
            for i in range(n):
                piece = adds[i * per:(i + 1) * per]
                name = f"{version:08d}-{i:04d}-{n:04d}.parquet"
                data = self._encode_sidecar_parquet(piece)
                self.log_store.overwrite_atomic(
                    os.path.join(self.log_dir, "_sidecars", name), data)
                sidecars.append({"path": name, "sizeInBytes": len(data),
                                 "numAdds": len(piece)})
            head = {k: v for k, v in manifest.items()
                    if k not in ("adds", "active")}
            head["v2Checkpoint"] = True
            head["sidecarFiles"] = sidecars
            # The Delta 3.x spec allows the V2 TOP manifest to be either
            # JSON or PARQUET (<v>.checkpoint.v2.parquet); real Delta
            # writers commonly emit the parquet top.  Both carry the
            # same metadata-sized head + sidecar list; readers accept
            # either interchangeably (same O(interval) read-call bound).
            if props.get("txlog.checkpoint.v2Top", "json") == "parquet":
                self.log_store.overwrite_atomic(
                    self._checkpoint_v2_parquet_path(version),
                    self._encode_v2_top_parquet(head))
            else:
                self.log_store.overwrite_atomic(
                    self._checkpoint_v2_path(version),
                    json.dumps(head).encode())
            pointer["sidecars"] = n
        elif fmt == "parquet" and part_size > 0 and \
                len(manifest["adds"]) > part_size:
            # MULTI-PART checkpoint (Delta's <v>.checkpoint.<i>.<n>
            # shape): the add list — the only part that scales with file
            # count — splits across n parquet parts of ≤ partSize rows
            # each, so on a 100k-file table the checkpoint write AND the
            # snapshot-resolution read parallelize instead of funneling
            # through one monolithic file.  Table-level state (protocol/
            # meta/dvs/txns/schema) rides every part's key-value
            # metadata, so any single part is self-describing and a torn
            # multi-part write (missing part) is detected and falls back
            # to log replay.
            adds = manifest["adds"]
            n = (len(adds) + part_size - 1) // part_size
            for i in range(n):
                piece = dict(manifest)
                piece["adds"] = adds[i * part_size:(i + 1) * part_size]
                self.log_store.overwrite_atomic(
                    self._checkpoint_part_path(version, i, n),
                    self._encode_checkpoint_parquet(piece))
            pointer["parts"] = n
        elif fmt == "parquet":
            self.log_store.overwrite_atomic(
                self._checkpoint_parquet_path(version),
                self._encode_checkpoint_parquet(manifest))
        else:
            self.log_store.overwrite_atomic(
                self._checkpoint_path(version),
                json.dumps(manifest).encode())
        self.log_store.overwrite_atomic(
            os.path.join(self.log_dir, _LAST_CHECKPOINT),
            json.dumps(pointer).encode())
        # Delta's expired-log cleanup piggybacks checkpoint writes:
        # best-effort, derived-data only — a failure here never fails
        # the commit that triggered the checkpoint.  THROTTLED (VERDICT
        # r12 item 4): the full scan (4 directory globs + a _commit_ts
        # read per retained checkpoint) only runs when a new retention
        # floor can actually exist — i.e. when the earliest candidate
        # checkpoint above the last floor has aged past retention.  The
        # just-written checkpoint joins the candidate set via ONE read
        # of its own just-committed file (page-cached); steady-state
        # checkpoints with an unchanged floor do no cleanup I/O at all
        # (glob-count pin in tests/test_txlog.py).
        if props.get("delta.enableExpiredLogCleanup", "").lower() \
                != "false":
            try:
                if not self._cleanup_seeded:
                    # fresh handle: no candidate knowledge yet — do the
                    # full scan once; it seeds the cache.
                    self.cleanup_metadata()
                else:
                    ts = self._commit_ts(version)
                    self._cleanup_pending_ts = ts \
                        if self._cleanup_pending_ts is None \
                        else min(self._cleanup_pending_ts, ts)
                    cutoff = time.time() * 1000.0 \
                        - self._retention_ms(props)
                    if self._cleanup_pending_ts <= cutoff:
                        self.cleanup_metadata()
            except Exception:
                pass
        if props.get("txlog.checksum.enabled", "").lower() == "true":
            # checkpoint versions RESYNC the version checksum from the
            # exact state the manifest just materialized (free — no
            # extra resolution), bounding any drift the incremental
            # per-commit path could in principle accumulate to one
            # checkpoint interval.
            try:
                self._write_crc_from_state(
                    version, manifest["adds"], manifest["dvs"],
                    manifest["schemaJson"], manifest["protocol"])
            except Exception:
                pass  # derived data; validate_checksum reports drift

    # -- version checksums (Delta's <v>.crc state validation) ---------------

    def _crc_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.crc")

    def _read_crc(self, version: int) -> dict | None:
        try:
            with open(self._crc_path(version)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _crc_state(self, version: int) -> dict:
        """Full (non-incremental) checksum state at ``version``: snapshot
        resolution + one stat per active file.  O(numFiles) — used to
        seed the chain, by checkpoint resyncs, and by
        ``validate_checksum``; steady-state commits use the O(changed
        files) incremental path."""
        active, schema_json, dvs = self._snapshot_full(version)
        return self._crc_fields(
            version, [{"path": p} for p in active], dvs, schema_json,
            self.protocol(version))

    def _crc_fields(self, version: int, adds: list[dict], dvs: dict,
                    schema_json: str | None, protocol: dict) -> dict:
        size = 0
        for a in adds:
            try:
                size += os.path.getsize(os.path.normpath(
                    os.path.join(self.path, a["path"])))
            except OSError:
                pass  # cloned-in/absent: size best-effort (like detail)
        return {
            "version": version,
            "numFiles": len(adds),
            "tableSizeBytes": size,
            "numDvFiles": len(dvs),
            "dvTargets": sorted(dvs),
            "schemaHash": hashlib.md5(
                (schema_json or "").encode()).hexdigest(),
            "protocol": protocol,
        }

    def _write_crc_from_state(self, version: int, adds: list[dict],
                              dvs: dict, schema_json: str | None,
                              protocol: dict) -> None:
        self.log_store.overwrite_atomic(
            self._crc_path(version),
            json.dumps(self._crc_fields(version, adds, dvs, schema_json,
                                        protocol),
                       sort_keys=True).encode())

    def _maybe_crc(self, version: int, actions: list[dict]) -> None:
        """Post-commit hook (``txlog.checksum.enabled``): write the
        VERSION CHECKSUM file ``<v>.crc`` — Delta's per-commit state
        summary (file count, table bytes, DV'd targets, schema hash,
        protocol) that lets any reader verify its snapshot
        reconstruction without trusting the replay (``.crc`` in real
        Delta logs).  INCREMENTAL: the previous version's crc is
        advanced by this commit's add/remove/dvAdd/metaData/protocol
        actions — O(changed files) stat calls, never O(table) — with a
        full recompute only when the chain has no predecessor (first
        enabled commit, or a gap from a writer that crashed before its
        crc write).  Checkpoint versions overwrite with the manifest's
        exact state (see _maybe_checkpoint), bounding drift.  The flag
        is cached per handle like the UniForm hook: one
        checkpoint-bounded properties() read, a cached False re-checked
        after one checkpoint interval of commits."""
        enabled = getattr(self, "_crc_enabled", None)
        if enabled is False:
            stale_after = max(1, self.checkpoint_interval)
            if version - getattr(self, "_crc_checked_v", -1) >= stale_after:
                enabled = None
        if enabled is None:
            try:
                enabled = self.properties().get(
                    "txlog.checksum.enabled", "").lower() == "true"
            except Exception:
                enabled = False
            self._crc_enabled = enabled
            self._crc_checked_v = version
        if not enabled:
            return
        try:
            prev = self._read_crc(version - 1) if version > 0 else None
            crc = None if prev is None else self._advance_crc(
                prev, version, actions)
            if crc is None:
                crc = self._crc_state(version)
            self.log_store.overwrite_atomic(
                self._crc_path(version),
                json.dumps(crc, sort_keys=True).encode())
        except Exception:
            pass  # derived data; next checkpoint resync catches up

    def _advance_crc(self, prev: dict, version: int,
                     actions: list[dict]) -> dict | None:
        """prev crc + this commit's actions -> this version's crc, or
        None when the increments cannot be applied safely (a referenced
        file already gone from disk, or counters would go negative —
        both mean the chain must reseed from a full recompute)."""
        num = prev["numFiles"]
        size = prev["tableSizeBytes"]
        dv_targets = set(prev.get("dvTargets", []))
        schema_hash = prev["schemaHash"]
        protocol = prev["protocol"]
        for a in actions:
            if "add" in a:
                p = os.path.normpath(
                    os.path.join(self.path, a["add"]["path"]))
                try:
                    size += os.path.getsize(p)
                except OSError:
                    return None
                num += 1
            elif "remove" in a:
                rel = a["remove"]["path"]
                p = os.path.normpath(os.path.join(self.path, rel))
                try:
                    size -= os.path.getsize(p)
                except OSError:
                    return None  # already collected: cannot subtract
                num -= 1
                dv_targets.discard(rel)
            elif "dvAdd" in a:
                dv_targets.update(a["dvAdd"]["targets"])
            elif "metaData" in a:
                schema_hash = hashlib.md5(
                    (a["metaData"].get("schemaJson") or "").encode()
                ).hexdigest()
            elif "protocol" in a:
                protocol = a["protocol"]
        if num < 0 or size < 0:
            return None
        return {
            "version": version,
            "numFiles": num,
            "tableSizeBytes": size,
            "numDvFiles": len(dv_targets),
            "dvTargets": sorted(dv_targets),
            "schemaHash": schema_hash,
            "protocol": protocol,
        }

    def enable_checksums(self) -> int:
        """Turn on per-commit version checksums (one property commit;
        the commit that sets the flag gets the chain's seed crc)."""
        return self.set_properties({"txlog.checksum.enabled": "true"})

    def validate_checksum(self, version: int | None = None) -> dict:
        """Recompute the snapshot state at ``version`` (default latest)
        and compare against the stored ``<v>.crc``.  Returns the crc
        dict when they agree; raises ValueError naming every diverging
        field — a torn replay, a tampered log, or a lost file turns
        into a loud, specific error instead of silently wrong reads.
        Raises FileNotFoundError when no crc exists for the version."""
        v = self.latest_version() if version is None else version
        stored = self._read_crc(v)
        if stored is None:
            raise FileNotFoundError(
                f"no version checksum at {self._crc_path(v)} — "
                "enable txlog.checksum.enabled or pick a crc'd version")
        actual = self._crc_state(v)
        diffs = {k: (stored.get(k), actual[k]) for k in actual
                 if stored.get(k) != actual[k]}
        if diffs:
            raise ValueError(
                f"version checksum mismatch at version {v}: " + ", ".join(
                    f"{k}: stored {s!r} != actual {a!r}"
                    for k, (s, a) in sorted(diffs.items())))
        return stored

    @staticmethod
    def _retention_ms(props: dict) -> float:
        """``delta.logRetentionDuration`` in milliseconds (default 30
        days).  Raises on an unparseable value — callers decide whether
        that fails loudly (manual cleanup) or is swallowed (the
        best-effort post-checkpoint hook)."""
        raw = props.get("delta.logRetentionDuration")
        if not raw:
            return 30 * 24.0 * 3600.0 * 1000.0
        m = re.search(r"(\d+(?:\.\d+)?)\s*(hour|day)", raw, re.IGNORECASE)
        if not m:
            raise ValueError(
                "unsupported delta.logRetentionDuration "
                f"{raw!r}: use 'interval N hours|days'")
        hours = float(m.group(1)) * (24.0 if m.group(2).lower() == "day"
                                     else 1.0)
        return hours * 3600.0 * 1000.0

    def cleanup_metadata(self, retention_hours: float | None = None,
                         dry_run: bool = False) -> list[str]:
        """Delta's metadata cleanup (``delta.logRetentionDuration``,
        default 30 days): bound the TRANSACTION LOG itself.  A busy
        streaming table commits millions of times; without cleanup the
        log directory grows forever even though checkpoints make old
        commits redundant — the 100 TB operational gap VACUUM (data
        files) does not cover.

        Rule: let F be the NEWEST checkpoint whose own commit
        timestamp has aged past retention.  Delete exactly the commit
        files and checkpoint manifests (all formats, V2 sidecars
        included) strictly BELOW F.  Every deleted commit is then both
        older than retention AND covered by the retained checkpoint at
        F, so every retained version ``>= F`` still resolves
        checkpoint-first with the same read-call bound; versions below
        F become unresolvable and raise a CLEAR error (Delta's
        documented time-travel trade — ``_require_retained``).
        In-commit timestamps decide age (strictly monotonic), never
        file mtimes.  Runs automatically after each checkpoint unless
        ``delta.enableExpiredLogCleanup = false``; change-data/segment
        files of dropped commits remain VACUUM's concern.  Returns the
        deleted (or, with ``dry_run``, deletable) paths."""
        if retention_hours is None:
            cutoff = time.time() * 1000.0 \
                - self._retention_ms(self.properties())
        else:
            cutoff = time.time() * 1000.0 \
                - retention_hours * 3600.0 * 1000.0
        earliest = self._earliest_version()
        ckpt_vers = sorted({
            int(os.path.basename(p).split(".")[0])
            for pat in ("*.checkpoint.json", "*.checkpoint.parquet",
                        "*.checkpoint.[0-9]*.parquet",
                        "*.checkpoint.v2.json", "*.checkpoint.v2.parquet")
            for p in glob.glob(os.path.join(self.log_dir, pat))})
        ts_by_ver = {k: self._commit_ts(k) for k in ckpt_vers
                     if k > earliest}
        floors = [k for k, ts in ts_by_ver.items()
                  if ts <= cutoff
                  and self._read_checkpoint_at(k) is not None]
        floor = max(floors) if floors else earliest
        if not dry_run:
            # Re-seed the throttle cache (see _maybe_checkpoint): the
            # next possible floor is the earliest checkpoint still above
            # this run's floor.
            pending = [ts for k, ts in ts_by_ver.items() if k > floor]
            self._cleanup_pending_ts = min(pending) if pending else None
            self._cleanup_seeded = True
        if not floors:
            return []
        victims: list[str] = []
        for v in range(earliest, floor):
            p = os.path.join(self.log_dir, f"{v:08d}.json")
            if os.path.exists(p):
                victims.append(p)
        for pat in ("*.checkpoint.json", "*.checkpoint.parquet",
                    "*.checkpoint.[0-9]*.parquet", "*.checkpoint.v2.json",
                    "*.checkpoint.v2.parquet"):
            for p in glob.glob(os.path.join(self.log_dir, pat)):
                if int(os.path.basename(p).split(".")[0]) < floor:
                    victims.append(p)
        for p in glob.glob(os.path.join(self.log_dir, "[0-9]*.crc")):
            # version checksums below the floor describe versions that
            # no longer resolve — they expire with their commits
            if int(os.path.basename(p).split(".")[0]) < floor:
                victims.append(p)
        for p in glob.glob(os.path.join(self.log_dir, "_sidecars",
                                        "*.parquet")):
            if int(os.path.basename(p).split("-")[0]) < floor:
                victims.append(p)
        if not dry_run:
            for p in victims:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        return sorted(victims)

    def _checkpoint_parquet_path(self, version: int) -> str:
        return os.path.join(self.log_dir,
                            f"{version:08d}.checkpoint.parquet")

    def _checkpoint_v2_path(self, version: int) -> str:
        return os.path.join(self.log_dir,
                            f"{version:08d}.checkpoint.v2.json")

    def _checkpoint_v2_parquet_path(self, version: int) -> str:
        return os.path.join(self.log_dir,
                            f"{version:08d}.checkpoint.v2.parquet")

    @staticmethod
    def _encode_v2_top_parquet(head: dict) -> bytes:
        """PARQUET-top V2 manifest (the spec's alternative to the JSON
        top): one row per sidecar reference — the only part of the top
        that grows at all — and the table-level head (protocol/meta/
        version/dvs/txns/constraints/schemaJson) as one JSON blob in the
        parquet key-value metadata, mirroring the classic columnar
        manifest's layout so both decode paths share shape."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sidecars = head["sidecarFiles"]
        meta_head = {k: v for k, v in head.items() if k != "sidecarFiles"}
        table = pa.table(
            {"path": pa.array([s["path"] for s in sidecars],
                              type=pa.string()),
             "sizeInBytes": pa.array(
                 [int(s["sizeInBytes"]) for s in sidecars],
                 type=pa.int64()),
             "numAdds": pa.array([int(s["numAdds"]) for s in sidecars],
                                 type=pa.int64())})
        table = table.replace_schema_metadata(
            {b"manifest": json.dumps(meta_head).encode()})
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, compression="zstd")
        return buf.getvalue().to_pybytes()

    @staticmethod
    def _encode_sidecar_parquet(adds: list[dict]) -> bytes:
        """V2-checkpoint sidecar: ONLY file actions as (path,
        stats-json) parquet rows — table-level state lives in the top
        manifest, not here (the Delta v2 split: sidecars scale with
        file count, the top stays metadata-sized)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {"path": [a["path"] for a in adds],
             "stats": [json.dumps(a["stats"]) if a["stats"] is not None
                       else None for a in adds]})
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, compression="zstd")
        return buf.getvalue().to_pybytes()

    def _checkpoint_part_path(self, version: int, i: int, n: int) -> str:
        return os.path.join(
            self.log_dir,
            f"{version:08d}.checkpoint.{i:04d}.{n:04d}.parquet")

    @staticmethod
    def _encode_checkpoint_parquet(manifest: dict) -> bytes:
        """Columnar manifest: (path, stats-json) rows for the adds —
        the part that scales with file count — and everything else
        (protocol/meta/version/dvs/txns/constraints/schemaJson) as one
        JSON blob in the parquet key-value metadata.  DV maps would
        move to rows too at tombstone scale; at this SF they are
        metadata-sized."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        adds = manifest["adds"]
        head = {k: v for k, v in manifest.items()
                if k not in ("adds", "active")}
        table = pa.table(
            {"path": [a["path"] for a in adds],
             "stats": [json.dumps(a["stats"]) if a["stats"] is not None
                       else None for a in adds]})
        table = table.replace_schema_metadata(
            {b"manifest": json.dumps(head).encode()})
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, compression="zstd")
        return buf.getvalue().to_pybytes()

    def _read_checkpoint_at(self, version: int) -> dict | None:
        """Load the checkpoint manifest at exactly ``version``, any
        format (JSON, single parquet, multi-part parquet, or V2
        manifest + sidecars); None if absent/torn — including a MISSING
        PART of a multi-part checkpoint or a missing V2 sidecar — in
        which case full log replay still works."""
        head: dict | None = None
        v2p = self._checkpoint_v2_path(version)
        v2pq = self._checkpoint_v2_parquet_path(version)
        if os.path.exists(v2p):
            try:
                with open(v2p) as f:
                    head = json.load(f)
            except Exception:
                return None  # torn v2 json top: replay
        elif os.path.exists(v2pq):
            # parquet-top variant: sidecar references as rows, head in
            # the key-value metadata — same resolution from here on.
            try:
                import pyarrow.parquet as pq

                t = pq.read_table(v2pq)
                head = json.loads(t.schema.metadata[b"manifest"])
                head["sidecarFiles"] = [
                    {"path": p, "sizeInBytes": s, "numAdds": n}
                    for p, s, n in zip(
                        t.column("path").to_pylist(),
                        t.column("sizeInBytes").to_pylist(),
                        t.column("numAdds").to_pylist())]
            except Exception:
                return None  # torn v2 parquet top: replay
        if head is not None:
            try:
                import pyarrow.parquet as pq

                all_adds: list[dict] = []
                for sc in head.pop("sidecarFiles"):
                    t = pq.read_table(os.path.join(
                        self.log_dir, "_sidecars", sc["path"]))
                    paths = t.column("path").to_pylist()
                    stats = t.column("stats").to_pylist()
                    if len(paths) != int(sc.get("numAdds", len(paths))):
                        return None  # truncated sidecar: replay instead
                    all_adds.extend(
                        {"path": pp,
                         "stats": json.loads(s) if s is not None else None}
                        for pp, s in zip(paths, stats))
                head["adds"] = all_adds
                head["active"] = [a["path"] for a in all_adds]
                return head
            except Exception:
                return None  # torn v2 write (missing sidecar): replay
        parts = sorted(glob.glob(os.path.join(
            self.log_dir, f"{version:08d}.checkpoint.[0-9]*.parquet")))
        if parts:
            try:
                import pyarrow.parquet as pq

                n_expect = int(os.path.basename(parts[0]).split(".")[-2])
                if len(parts) != n_expect:
                    return None  # torn multi-part write: replay instead
                head = None
                all_adds: list[dict] = []
                for p in parts:
                    t = pq.read_table(p)
                    if head is None:
                        head = json.loads(t.schema.metadata[b"manifest"])
                    paths = t.column("path").to_pylist()
                    stats = t.column("stats").to_pylist()
                    all_adds.extend(
                        {"path": pp,
                         "stats": json.loads(s) if s is not None else None}
                        for pp, s in zip(paths, stats))
                head["adds"] = all_adds
                head["active"] = [a["path"] for a in all_adds]
                return head
            except Exception:
                return None
        pq_path = self._checkpoint_parquet_path(version)
        if os.path.exists(pq_path):
            try:
                import pyarrow.parquet as pq

                t = pq.read_table(pq_path)
                head = json.loads(t.schema.metadata[b"manifest"])
                paths = t.column("path").to_pylist()
                stats = t.column("stats").to_pylist()
                head["adds"] = [
                    {"path": p,
                     "stats": json.loads(s) if s is not None else None}
                    for p, s in zip(paths, stats)]
                head["active"] = paths
                return head
            except Exception:
                return None
        try:
            with open(self._checkpoint_path(version)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _best_checkpoint(self, version: int) -> dict | None:
        """Newest checkpoint manifest with checkpoint.version <= version.
        Fast path: the ``_last_checkpoint`` pointer (one read).  Time
        travel to before it falls back to listing checkpoint files."""
        lc = os.path.join(self.log_dir, _LAST_CHECKPOINT)
        try:
            with open(lc) as f:
                hint = json.load(f)["version"]
            if hint <= version:
                loaded = self._read_checkpoint_at(hint)
                if loaded is not None:
                    return loaded
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            pass
        cands = sorted({
            int(os.path.basename(p).split(".")[0])
            for p in glob.glob(os.path.join(self.log_dir,
                                            "*.checkpoint.json"))
            + glob.glob(os.path.join(self.log_dir, "*.checkpoint.parquet"))
            + glob.glob(os.path.join(self.log_dir,
                                     "*.checkpoint.[0-9]*.parquet"))
            + glob.glob(os.path.join(self.log_dir, "*.checkpoint.v2.json"))
            + glob.glob(os.path.join(self.log_dir,
                                     "*.checkpoint.v2.parquet"))
            if int(os.path.basename(p).split(".")[0]) <= version
        }, reverse=True)
        for cv in cands:
            # newest first; a torn/corrupt manifest (e.g. a missing part
            # of a multi-part checkpoint) falls back to the NEXT OLDER
            # intact one — full replay only when none loads
            loaded = self._read_checkpoint_at(cv)
            if loaded is not None:
                return loaded
        return None

    def _snapshot(self, version: int | None = None) -> tuple[dict[str, dict | None], str | None]:
        """Resolve the snapshot at ``version``: start from the best
        checkpoint ≤ version (if any) and replay only the commit suffix →
        (ordered {table-relative path: footer stats or None}, schema
        json).  Without checkpoints this degenerates to full replay from
        commit 0."""
        active, schema_json, _ = self._snapshot_full(version)
        return active, schema_json

    def _snapshot_full(self, version: int | None = None) -> tuple[dict[str, dict | None], str | None, dict[str, list[str]]]:
        """Like ``_snapshot`` but also resolves deletion vectors →
        (active, schema json, {data file: [dv sidecar paths]}).  A
        ``remove`` of a data file retires its DVs (the rewrite that
        removed the file already materialized the deletions)."""
        latest = self.latest_version()
        if latest < 0:
            raise FileNotFoundError(f"no txlog table at {self.path}")
        v = latest if version is None else version
        if v > latest or v < 0:
            raise ValueError(f"version {v} out of range [0, {latest}]")
        active: dict[str, dict | None] = {}  # insertion-ordered
        dvs: dict[str, list[str]] = {}
        schema_json = None
        start = 0
        ckpt = self._best_checkpoint(v)
        if ckpt is not None:
            if "adds" in ckpt:
                active = {a["path"]: a.get("stats") for a in ckpt["adds"]}
            else:  # pre-stats checkpoint format: paths only, no skipping
                active = dict.fromkeys(ckpt["active"])
            dvs = {k: list(vv) for k, vv in ckpt.get("dvs", {}).items()}
            schema_json = ckpt["schemaJson"]
            start = ckpt["version"] + 1
        self._require_retained(start, v)
        for i in range(start, v + 1):
            for action in self._read_commit(i):
                if "metaData" in action:
                    schema_json = action["metaData"]["schemaJson"]
                elif "add" in action:
                    active[action["add"]["path"]] = action["add"].get("stats")
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
                    dvs.pop(action["remove"]["path"], None)
                elif "dvAdd" in action:
                    for tgt in action["dvAdd"]["targets"]:
                        dvs.setdefault(tgt, []).append(
                            action["dvAdd"]["path"])
        return active, schema_json, dvs

    def _snapshot_files(self, version: int | None = None) -> tuple[list[str], str | None]:
        """Absolute active data files + schema json at ``version``."""
        active, schema_json = self._snapshot(version)
        return [os.path.join(self.path, p) for p in active], schema_json

    def _txn_constraint_state(self, version: int | None = None) -> tuple[dict[str, int], dict[str, str]]:
        """Replay ``txn`` (idempotent-writer watermarks, Delta's
        ``txn``/SetTransaction action) and ``constraint`` (CHECK
        constraint) actions up to ``version`` → ({appId: highest
        committed version}, {name: SQL expr}).  Starts from the best
        checkpoint like ``_snapshot_full``, so resolution stays
        O(N)-bounded under continuous streaming commits — the case
        idempotent sinks exist for."""
        latest = self.latest_version()
        v = latest if version is None else version
        txns: dict[str, int] = {}
        constraints: dict[str, str] = {}
        start = 0
        ckpt = self._best_checkpoint(v)
        if ckpt is not None:
            txns = dict(ckpt.get("txns", {}))
            constraints = dict(ckpt.get("constraints", {}))
            start = ckpt["version"] + 1
        self._require_retained(start, v)
        for i in range(start, v + 1):
            for action in self._read_commit(i):
                if "txn" in action:
                    a = action["txn"]
                    txns[a["appId"]] = max(txns.get(a["appId"], -1),
                                           int(a["version"]))
                elif "constraint" in action:
                    c = action["constraint"]
                    if c.get("drop"):
                        constraints.pop(c["name"], None)
                    else:
                        constraints[c["name"]] = c["expr"]
        return txns, constraints

    def txn_version_for(self, app_id: str) -> int:
        """Highest ``txn`` version committed for ``app_id`` (-1 if none) —
        the idempotent writer's replay watermark."""
        return self._txn_constraint_state()[0].get(app_id, -1)

    def _domain_state(self, version: int | None = None) -> dict[str, str]:
        """Replay ``domainMetadata`` actions (Delta's domain-metadata
        writer feature) up to ``version`` → {domain: configuration JSON
        string}.  A ``removed`` tombstone drops the domain.  Starts from
        the best checkpoint's ``domains`` map like every other replayed
        state, so resolution stays O(interval) under continuous
        commits."""
        latest = self.latest_version()
        v = latest if version is None else version
        domains: dict[str, str] = {}
        start = 0
        ckpt = self._best_checkpoint(v)
        if ckpt is not None:
            domains = dict(ckpt.get("domains", {}))
            start = ckpt["version"] + 1
        self._require_retained(start, v)
        for i in range(start, v + 1):
            for action in self._read_commit(i):
                if "domainMetadata" in action:
                    d = action["domainMetadata"]
                    if d.get("removed"):
                        domains.pop(d["domain"], None)
                    else:
                        domains[d["domain"]] = d["configuration"]
        return domains

    def protocol(self, version: int | None = None) -> dict[str, int]:
        """The table's protocol requirements at ``version`` (Delta's
        ``protocol`` action): the LAST protocol action wins.  Tables
        created before the action existed default to (1, 2)."""
        latest = self.latest_version()
        if latest < 0:
            raise FileNotFoundError(f"no txlog table at {self.path}")
        v = latest if version is None else version
        if v > latest or v < 0:
            raise ValueError(f"version {v} out of range [0, {latest}]")
        proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        start = 0
        ckpt = self._best_checkpoint(v)
        if ckpt is not None:
            proto = dict(ckpt.get("protocol", proto))
            start = ckpt["version"] + 1
        self._require_retained(start, v)
        for i in range(start, v + 1):
            for action in self._read_commit(i):
                if "protocol" in action:
                    proto = dict(action["protocol"])
        return proto

    def _assert_readable(self, version: int | None = None) -> None:
        """Refuse to read a table whose protocol demands a newer reader
        than this implementation — Delta's forward-compatibility fence:
        an old reader silently ignoring a feature it doesn't know (say,
        deletion vectors) would return WRONG rows; failing loudly is the
        contract."""
        proto = self.protocol(version)
        unknown = (set(proto.get("readerFeatures", []))
                   - _SUPPORTED_READER_FEATURES)
        if unknown:
            raise RuntimeError(
                f"table requires reader feature(s) {sorted(unknown)} this "
                "reader does not implement; silently ignoring a reader "
                "feature would return wrong rows")
        if proto.get("minReaderVersion", 1) > _SUPPORTED_READER_VERSION:
            raise RuntimeError(
                f"table at {self.path} requires minReaderVersion="
                f"{proto['minReaderVersion']} but this reader supports "
                f"{_SUPPORTED_READER_VERSION}; upgrade the engine "
                "before reading (ignoring the feature would drop or "
                "resurrect rows)")

    def _assert_writable(self) -> None:
        """Refuse to COMMIT to a table whose protocol lists a writer
        feature this engine does not implement — the write-side half of
        Delta's table-features fence.  Note the asymmetry with
        ``_assert_readable``: an unknown WRITER feature leaves the table
        perfectly readable (that split is why writer-only features like
        identity columns don't lock old readers out); it only blocks
        commits, which could otherwise break the feature's invariants."""
        try:
            proto = self.protocol()
        except FileNotFoundError:
            return  # table being created: nothing to fence yet
        unknown = (set(proto.get("writerFeatures", []))
                   - _SUPPORTED_WRITER_FEATURES)
        if unknown:
            raise RuntimeError(
                f"table requires writer feature(s) {sorted(unknown)} this "
                "writer does not implement; committing could break the "
                "feature's invariants (reads remain allowed)")

    def add_feature(self, name: str, reader: bool = False) -> int:
        """ALTER TABLE-style feature enablement (Delta's
        ``delta.feature.<name> = 'supported'`` TBLPROPERTIES shape): one
        protocol commit upgrades the table to (3, 7) and adds ``name``
        to writerFeatures (and readerFeatures too when ``reader`` —
        reader features fence BOTH sides).  Refuses features this engine
        itself does not implement (a table this engine can neither read
        nor write helps no one).  See ``drop_feature`` for the
        downgrade path."""
        if name not in _SUPPORTED_WRITER_FEATURES:
            raise ValueError(
                f"unknown table feature {name!r}; this engine supports "
                f"{sorted(_SUPPORTED_WRITER_FEATURES)}")
        if reader and name not in _SUPPORTED_READER_FEATURES:
            raise ValueError(
                f"{name!r} is not a reader feature here; supported "
                f"reader features: {sorted(_SUPPORTED_READER_FEATURES)}")
        base_version = self.latest_version()
        proto = self.protocol()
        rf = set(proto.get("readerFeatures", []))
        wf = set(proto.get("writerFeatures", []))
        if name in wf and (not reader or name in rf):
            return self.latest_version()  # idempotent
        wf.add(name)
        if reader:
            rf.add(name)
        new_proto = {"minReaderVersion": max(
                         proto.get("minReaderVersion", 1),
                         3 if reader else proto.get("minReaderVersion", 1)),
                     "minWriterVersion": _SUPPORTED_WRITER_VERSION,
                     "writerFeatures": sorted(wf)}
        if rf:
            new_proto["readerFeatures"] = sorted(rf)
            new_proto["minReaderVersion"] = max(
                new_proto["minReaderVersion"], 3)
        actions = [
            {"commit": {"op": "ADD FEATURE", "ts": self._next_ts(),
                        "feature": name, "reader": bool(reader)}},
            {"protocol": new_proto},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def enable_v2_checkpoints(self, part_size: int | None = None,
                              top: str | None = None) -> int:
        """Switch checkpointing to the Delta 3.x V2 shape
        (``v2Checkpoint`` table feature) in ONE commit: the protocol
        gains the ``v2Checkpoint`` READER feature — fencing is the
        point: a pre-3.x reader that silently ignored the sidecar
        layout would resolve an EMPTY file list from the unfamiliar
        manifest, so it must refuse the table loudly instead — and
        ``txlog.checkpoint.format`` flips to ``v2`` (with
        ``txlog.checkpoint.partSize`` when given, bounding each
        sidecar's row count).  Checkpoints already on disk in the
        classic JSON / parquet / multi-part formats stay readable and
        interoperate exactly the way those formats already do; only
        FUTURE checkpoints use the manifest+sidecar layout, and the
        read-call bound stays O(checkpoint interval).

        ``top`` selects the TOP-manifest encoding the Delta 3.x spec
        allows — ``json`` (default) or ``parquet``
        (``<v>.checkpoint.v2.parquet``, the variant real Delta writers
        commonly emit); readers accept both interchangeably
        (``txlog.checkpoint.v2Top`` table property)."""
        base_version = self.latest_version()
        proto = self.protocol()
        rf = set(proto.get("readerFeatures", []))
        wf = set(proto.get("writerFeatures", []))
        rf.add("v2Checkpoint")
        wf.add("v2Checkpoint")
        new_proto = {"minReaderVersion": max(
                         proto.get("minReaderVersion", 1), 3),
                     "minWriterVersion": _SUPPORTED_WRITER_VERSION,
                     "readerFeatures": sorted(rf),
                     "writerFeatures": sorted(wf)}
        _, schema_json = self._snapshot_files()
        merged = self.properties()
        merged["txlog.checkpoint.format"] = "v2"
        if part_size is not None:
            merged["txlog.checkpoint.partSize"] = str(int(part_size))
        if top is not None:
            if top not in ("json", "parquet"):
                raise ValueError(
                    f"bad v2 top format {top!r}: use 'json' or 'parquet'")
            merged["txlog.checkpoint.v2Top"] = top
        actions = [
            {"commit": {"op": "ENABLE V2 CHECKPOINTS",
                        "ts": self._next_ts()}},
            {"protocol": new_proto},
            {"metaData": {"schemaJson": schema_json,
                          "properties": merged}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    #: features whose on-disk state this engine can prove absent, making
    #: the protocol downgrade safe (ALTER TABLE ... DROP FEATURE).
    _DROPPABLE_FEATURES = ("deletionVectors", "rowTracking")

    def drop_feature(self, name: str) -> int:
        """``ALTER TABLE t DROP FEATURE name``: remove a table feature
        from the protocol so pre-feature readers/writers can use the
        table again.  Refused while the feature still has LIVE state —
        outstanding deletion vectors (``REORG ... PURGE`` first) or
        row-tracking metadata still being stamped — because an old
        writer ignorant of that state would corrupt it.  Unlike real
        Delta (whose readers see ONE protocol for the whole log and
        therefore need a 24 h history-truncation dance), protocol here
        resolves PER VERSION: time travel to before the drop still
        applies the old fencing, so the drop is one commit."""
        if name not in self._DROPPABLE_FEATURES:
            raise ValueError(
                f"feature {name!r} cannot be dropped; droppable: "
                f"{sorted(self._DROPPABLE_FEATURES)}")
        base_version = self.latest_version()
        proto = self.protocol()
        rf = set(proto.get("readerFeatures", []))
        wf = set(proto.get("writerFeatures", []))
        rt_live = name == "rowTracking" and self._row_tracking_enabled()
        if name not in wf and name not in rf and not rt_live:
            return self.latest_version()  # idempotent
        if name == "deletionVectors":
            _, _, dvs = self._snapshot_full()
            if dvs:
                raise ValueError(
                    "cannot drop deletionVectors: the current snapshot "
                    f"has {len(dvs)} file(s) with live DVs — run "
                    "REORG TABLE ... APPLY (PURGE) first")
        extra_meta: list[dict] = []
        if name == "rowTracking" and self._row_tracking_enabled():
            # disabling IS the drop: stop stamping ids on future writes
            # (already-stamped per-file stats stay — harmless, and a
            # later re-enable backfills under the monotone high-water)
            _, schema_json = self._snapshot_files()
            extra_meta.append({"metaData": {"schemaJson": schema_json,
                                            "rowTracking": False}})
        rf.discard(name)
        wf.discard(name)
        if rf or wf:
            new_proto = {"minReaderVersion": proto["minReaderVersion"],
                         "minWriterVersion": proto["minWriterVersion"],
                         "writerFeatures": sorted(wf)}
            if rf:
                new_proto["readerFeatures"] = sorted(rf)
            else:
                # no reader features left: legacy readers can come back
                new_proto["minReaderVersion"] = 1
        else:
            new_proto = {"minReaderVersion": 1, "minWriterVersion": 2}
        actions = ([
            {"commit": {"op": "DROP FEATURE", "ts": self._next_ts(),
                        "feature": name}},
            {"protocol": new_proto},
        ] + extra_meta)
        return self._commit_with_occ(actions, [], base_version)

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints ({name: SQL expression})."""
        return self._txn_constraint_state()[1]

    # -- segment writing ----------------------------------------------------

    #: metaData keys resolved last-writer-wins by _meta_state (and carried
    #: forward by checkpoints so resolution stays O(interval) on long logs)
    _META_KEYS = ("partitionColumns", "columnMapping", "columnMappingMode",
                  "retiredPhysical", "generatedColumns",
                  "bloomFilterColumns", "identityColumns", "properties",
                  "typeWidened", "columnDefaults", "clusteringColumns",
                  "rowTracking", "notNullColumns")

    def _meta_state(self, version: int | None = None) -> dict:
        """Last-writer-wins metaData keys at ``version`` (partition
        columns, column mapping + mode, retired physical names,
        generated columns, bloom columns), resolved CHECKPOINT-FIRST
        like ``protocol``: best manifest ≤ version seeds the state, only
        the commit suffix replays.  Without this, every read()'s
        metadata resolution was a full log replay — O(N) JSON reads per
        query on a 100k-commit streaming table.  Manifests written
        before the ``meta`` field existed fall back to full replay
        (correct, just slower)."""
        latest = self.latest_version()
        v = latest if version is None else min(version, latest)
        state: dict = {}
        start = 0
        if v >= 0:
            ckpt = self._best_checkpoint(v)
            if ckpt is not None and "meta" in ckpt:
                state = dict(ckpt["meta"])
                start = ckpt["version"] + 1
        self._require_retained(start, v)
        for i in range(start, v + 1):
            for action in self._read_commit(i):
                md = action.get("metaData")
                if md:
                    for k in self._META_KEYS:
                        if k in md:
                            state[k] = md[k]
                ident = action.get("identity")
                if ident:
                    # per-column identity high-water mark: max-merge, so
                    # replay order and OCC retries can never move it
                    # backwards (checkpoint manifests carry the folded
                    # state like every other meta key)
                    hw = dict(state.get("identityHighWater", {}))
                    c = ident["column"]
                    hw[c] = max(int(hw.get(c, 0)), int(ident["highWater"]))
                    state["identityHighWater"] = hw
                rid = action.get("rowid")
                if rid:
                    # row-tracking high-water mark: max-merged like the
                    # identity marks, so OCC retries and replay order can
                    # never move allocation backwards
                    state["rowIdHighWater"] = max(
                        int(state.get("rowIdHighWater", 0)),
                        int(rid["highWater"]))
        return state

    def _partition_columns(self) -> list[str]:
        """Partition columns from the metaData state (checkpoint-bounded
        metadata read).  During CREATE the log does not exist yet;
        ``create`` pre-sets the pending attribute instead."""
        pending = getattr(self, "_pending_partition_columns", None)
        if pending is not None:
            return pending
        return self._meta_state().get("partitionColumns", [])

    def clustering_columns(self) -> list[str]:
        """Liquid-clustering columns recorded in table metadata (empty =
        unclustered).  Plain OPTIMIZE re-clusters on them."""
        return self._meta_state().get("clusteringColumns", [])

    def set_cluster_by(self, cols: list[str] | None) -> int:
        """ALTER TABLE t CLUSTER BY (a, b) / CLUSTER BY NONE — metadata
        only: changes which columns future OPTIMIZE runs cluster on.
        Existing layout is untouched (re-clustering happens at the next
        OPTIMIZE — Delta liquid's incremental model, never an eager
        100 TB rewrite)."""
        base_version = self.latest_version()
        cols = list(cols or [])
        if cols:
            _, schema_json = self._snapshot_files()
            have = {f.name for f in
                    T.StructType.fromJson(json.loads(schema_json)).fields}
            missing = set(cols) - have
            if missing:
                raise ValueError(
                    f"clustering columns not in schema: {sorted(missing)}")
            overlap = set(cols) & set(self._partition_columns())
            if overlap:
                raise ValueError(
                    f"columns {sorted(overlap)} cannot be both partition "
                    "and clustering columns")
        _, schema_json = self._snapshot_files()
        actions = [
            {"commit": {"op": "CLUSTER BY", "ts": self._next_ts(),
                        "columns": cols}},
            {"metaData": {"schemaJson": schema_json,
                          "clusteringColumns": cols}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def _bloom_columns(self) -> list[str]:
        """Bloom-indexed columns (same resolution as
        ``_partition_columns``)."""
        pending = getattr(self, "_pending_bloom_columns", None)
        if pending is not None:
            return pending
        return self._meta_state().get("bloomFilterColumns", [])

    def _column_mapping(self, version: int | None = None) -> dict[str, str]:
        """Column mapping at ``version`` ({logical name: physical name in
        the parquet files}) plus the retired-physical-name list, from
        the last metaData action carrying them (Delta's column-mapping
        mode, name-based).  Empty mapping = identity (the default; every
        pre-mapping code path is untouched).  Versioned: time travel to
        before a RENAME reads under the old names."""
        pending = getattr(self, "_pending_column_mapping", None)
        if pending is not None:
            return pending
        return self._meta_state(version).get("columnMapping", {})

    def _column_mapping_mode(self) -> str:
        """``"name"`` (default: physical name == creation name, dropped
        names retired forever) or ``"id"`` (physical names are opaque
        ``col-<uuid>`` ids assigned at create/evolution — Delta's
        id-based mode, where a dropped logical name CAN be re-introduced
        because the new column gets a fresh physical id and old segments'
        data can never resurface under it)."""
        return self._meta_state().get("columnMappingMode", "name")

    @staticmethod
    def _new_physical_id() -> str:
        return f"col-{uuid.uuid4().hex[:12]}"

    def _retired_physical(self) -> list[str]:
        """Physical column names retired by DROP COLUMN — a later
        schema evolution must not reuse one (the old files still carry
        data under it, which would silently resurrect)."""
        return self._meta_state().get("retiredPhysical", [])

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Rename a LOGICAL frame's mapped columns to their physical
        names before a segment write (no-op without a mapping)."""
        mapping = self._column_mapping()
        renames = {log: phys for log, phys in mapping.items()
                   if log in df.columns and log != phys}
        return df.withColumnsRenamed(renames) if renames else df

    def _physical_name(self, col: str) -> str:
        return self._column_mapping().get(col, col)

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN, metadata-only: no file is touched —
        the commit records the new LOGICAL schema plus a columnMapping
        entry pointing the new name at the old PHYSICAL name; reads
        translate on the fly, writes translate back.  At 100 TB this is
        the difference between a rename costing nothing and costing a
        full-table rewrite.  Refused for partition / generated /
        bloom-indexed / constraint-guarded columns (their definitions
        reference names; Delta guards the same dependencies)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column already exists: {new!r}")
        self._check_column_dependencies(old, "rename")
        mapping = dict(self._column_mapping())
        # refuse renaming INTO a name that is the physical name of a
        # DIFFERENT renamed column or of a dropped column (r8): writes
        # translate logical->physical per column, and two logical
        # columns sharing a parquet column name corrupt both
        others_phys = {p for l, p in mapping.items() if l != old and p != l}
        if new in others_phys or new in set(self._retired_physical()):
            raise ValueError(
                f"cannot rename to {new!r}: the name is in use as the "
                "physical column name of a renamed or dropped column in "
                "existing segments; pick a different name")
        phys = mapping.pop(old, old)
        mapping[new] = phys
        fields = [T.StructField(new, f.dataType, f.nullable)
                  if f.name == old else f for f in schema.fields]
        actions = [
            {"commit": {"op": "RENAME COLUMN",
                        "ts": self._next_ts(),
                        "from": old, "to": new}},
            {"metaData": {"schemaJson": T.StructType(fields).json(),
                          "columnMapping": mapping,
                          "retiredPhysical": self._retired_physical()}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def add_column(self, name: str, dtype: str) -> int:
        """ALTER TABLE ADD COLUMN, metadata-only (Delta's ADD COLUMNS):
        the column joins the logical schema as NULLABLE; no file is
        touched — rows in existing segments read typed NULL until a
        write materializes values.  At 100 TB this is the difference
        between a schema change costing nothing and a full rewrite.
        Name mode refuses names clashing with retired or rename-vacated
        physical names (existing segments would resurrect data under
        them); id mode assigns a fresh physical id, so any name is
        safe."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column already exists: {name!r}")
        new_field = T.StructField(name, T.DataType.fromDDL(dtype), True)
        mapping = dict(self._column_mapping())
        meta: dict = {
            "schemaJson": T.StructType(
                list(schema.fields) + [new_field]).json(),
            "retiredPhysical": self._retired_physical(),
        }
        if self._column_mapping_mode() == "id":
            mapping[name] = self._new_physical_id()
            meta["columnMapping"] = mapping
        else:
            if name in set(self._retired_physical()):
                raise ValueError(
                    f"cannot add column {name!r}: the name was retired "
                    "by DROP COLUMN and old segments still carry data "
                    "under it; use a different name")
            if name in {p for l, p in mapping.items() if p != l}:
                raise ValueError(
                    f"cannot add column {name!r}: the name is in use as "
                    "the physical column name of a renamed column in "
                    "existing segments; use a different name")
            meta["columnMapping"] = mapping
        actions = [
            {"commit": {"op": "ADD COLUMN", "ts": self._next_ts(),
                        "column": name, "type": dtype}},
            {"metaData": meta},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN, metadata-only: the column leaves the
        logical schema; the physical data stays in the immutable files
        and simply stops being selected.  The physical name is RETIRED —
        a later append re-introducing a column with that name is
        refused, because old segments would silently resurrect their
        stale values under it (real Delta avoids this with GUID physical
        names; refusing is the honest name-based equivalent)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        self._check_column_dependencies(name, "drop")
        mapping = dict(self._column_mapping())
        phys = mapping.pop(name, name)
        retired = sorted(set(self._retired_physical()) | {phys})
        fields = [f for f in schema.fields if f.name != name]
        actions = [
            {"commit": {"op": "DROP COLUMN",
                        "ts": self._next_ts(), "column": name}},
            {"metaData": {"schemaJson": T.StructType(fields).json(),
                          "columnMapping": mapping,
                          "retiredPhysical": retired}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    #: lossless widenings the parquet reader serves IN PLACE (probe-verified
    #: on this Spark: an explicit requested schema reads int32 segments as
    #: LONG or DOUBLE and float32 as DOUBLE) — Delta's type-widening table
    #: feature set for integral/floating types.  Everything else (narrowing,
    #: string/date changes) needs a rewrite and is refused.
    _WIDENINGS = {
        "tinyint": ("smallint", "int", "bigint", "double"),
        "smallint": ("int", "bigint", "double"),
        "int": ("bigint", "double"),
        "float": ("double",),
    }

    def alter_column_type(self, name: str, dtype: str) -> int:
        """ALTER TABLE t ALTER COLUMN c TYPE <wider>, metadata-only
        (Delta's type-widening table feature): ONE JSON commit changes
        the declared type; no file is touched.  Existing segments keep
        their narrow physical encoding and the read path serves them
        through an explicit requested schema (the parquet reader widens
        int32→long/double and float→double in place); new writes land
        wide.  At 100 TB this turns "the int column overflowed" from a
        full-table rewrite into a metadata operation.  Only lossless
        widenings are allowed; time travel to before the ALTER reads the
        narrow type."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name!r}")
        new_type = T.DataType.fromDDL(dtype)
        cur_s, new_s = field.dataType.simpleString(), new_type.simpleString()
        if new_s == cur_s:
            raise ValueError(f"column {name!r} is already {cur_s}")
        if new_s not in self._WIDENINGS.get(cur_s, ()):
            raise ValueError(
                f"unsupported type change {cur_s} -> {new_s} for column "
                f"{name!r}: only lossless widenings "
                f"({dict(self._WIDENINGS)}) are metadata-only; anything "
                "else requires rewriting the data")
        if name in self._partition_columns():
            raise ValueError(f"cannot widen partition column {name!r} "
                             "(partition values live in directory names)")
        if name in self._generated_columns():
            raise ValueError(f"cannot widen generated column {name!r}")
        if name in self._bloom_columns():
            raise ValueError(f"cannot widen bloom-indexed column {name!r}")
        if name in self._identity_columns():
            raise ValueError(f"cannot widen IDENTITY column {name!r}")
        fields = [T.StructField(f.name,
                                new_type if f.name == name else f.dataType,
                                f.nullable)
                  for f in schema.fields]
        actions = [
            {"commit": {"op": "ALTER COLUMN", "ts": self._next_ts(),
                        "column": name, "from": cur_s, "to": new_s}},
            {"metaData": {"schemaJson": T.StructType(fields).json(),
                          "typeWidened": True}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def _column_defaults(self) -> dict[str, str]:
        """Column DEFAULT expressions ({name: SQL expr}) applied when an
        INSERT / COPY INTO / append omits the column (future writes only
        — existing rows are untouched, Delta's semantics)."""
        return self._meta_state().get("columnDefaults", {})

    def set_column_default(self, name: str, expr: str) -> int:
        """ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>, metadata-only:
        subsequent writes that omit the column materialize the expression
        instead of NULL.  Existing rows are untouched (time travel and
        current reads of old segments still serve NULL for rows written
        without the column — exactly Delta's column-default contract)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name!r}")
        if name in self._generated_columns():
            raise ValueError(
                f"column {name!r} is GENERATED; defaults do not apply")
        if name in self._identity_columns():
            raise ValueError(
                f"column {name!r} is IDENTITY; defaults do not apply")
        try:
            probe = self.spark.range(1).select(
                F.expr(expr).cast(field.dataType).alias(name))
            probe.collect()
        except Exception as exc:
            raise ValueError(
                f"bad DEFAULT expression {expr!r} for column {name!r} "
                f"({field.dataType.simpleString()}): {exc}") from exc
        defaults = dict(self._column_defaults())
        defaults[name] = expr
        actions = [
            {"commit": {"op": "SET DEFAULT", "ts": self._next_ts(),
                        "column": name, "expr": expr}},
            {"metaData": {"schemaJson": schema_json,
                          "columnDefaults": defaults}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def unset_column_default(self, name: str) -> int:
        defaults = dict(self._column_defaults())
        if name not in defaults:
            raise ValueError(f"column {name!r} has no DEFAULT")
        del defaults[name]
        _, schema_json = self._snapshot_files()
        actions = [
            {"commit": {"op": "DROP DEFAULT", "ts": self._next_ts(),
                        "column": name}},
            {"metaData": {"schemaJson": schema_json,
                          "columnDefaults": defaults}},
        ]
        return self._commit_with_occ(actions, [], self.latest_version())

    def _fill_defaults(self, df: DataFrame) -> DataFrame:
        """Materialize DEFAULT expressions for declared columns absent
        from an incoming write frame (columns with no default keep the
        existing write-without-the-column → read-NULL behavior)."""
        defaults = self._column_defaults()
        if not defaults:
            return df
        _, schema_json = self._snapshot_files()
        if schema_json is None:
            return df
        types = {f.name: f.dataType
                 for f in T.StructType.fromJson(json.loads(schema_json))}
        fill = {c: F.expr(e).cast(types[c]) for c, e in defaults.items()
                if c not in df.columns and c in types}
        return df.withColumns(fill) if fill else df

    def _check_column_dependencies(self, col: str, what: str) -> None:
        if col in self._partition_columns():
            raise ValueError(f"cannot {what} partition column {col!r}")
        if col in self._generated_columns():
            raise ValueError(f"cannot {what} generated column {col!r}")
        if col in self._bloom_columns():
            raise ValueError(f"cannot {what} bloom-indexed column {col!r}")
        if col in self.not_null_columns():
            raise ValueError(
                f"cannot {what} NOT NULL column {col!r}; drop the "
                "invariant first")
        if self._txn_constraint_state()[1]:
            raise ValueError(
                f"cannot {what} columns while CHECK constraints exist "
                "(constraint expressions reference column names; drop "
                "the constraints first)")

    def _generated_columns(self) -> dict[str, str]:
        """Generated-column definitions ({name: SQL expr}) from the last
        metaData action carrying them — same resolution pattern as
        ``_partition_columns`` (the log is tiny JSON)."""
        pending = getattr(self, "_pending_generated_columns", None)
        if pending is not None:
            return pending
        return self._meta_state().get("generatedColumns", {})

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Delta generated-column write semantics: a generated column
        absent from the incoming rows is COMPUTED from its expression; a
        provided one is VALIDATED against it (one aggregate over the
        write set — silently accepting a wrong value would poison
        partition pruning and stats forever).  NULL-safe equality, so a
        provided NULL only passes if the expression yields NULL."""
        gen = self._generated_columns()
        for name, expr in gen.items():
            computed = F.expr(expr)
            if name not in df.columns:
                df = df.withColumn(name, computed)
                continue
            bad = df.filter(~F.col(name).eqNullSafe(computed)) \
                    .limit(1).count()
            if bad:
                raise ValueError(
                    f"generated column {name!r} was provided with values "
                    f"that do not match its expression ({expr})")
        return df

    def _identity_columns(self) -> dict:
        """IDENTITY column definitions ({name: {"start": s, "step": p}})
        from the metaData state (checkpoint-bounded)."""
        pending = getattr(self, "_pending_identity_columns", None)
        if pending is not None:
            return pending
        return self._meta_state().get("identityColumns", {})

    def _assign_identity(self, df: DataFrame, pin):
        """Delta ``GENERATED ALWAYS AS IDENTITY`` write semantics:
        identity columns must be ABSENT from the incoming rows (always
        engine-assigned — explicit values raise, like Delta) and are
        assigned DENSE monotonically increasing values continuing from
        the commit-carried high-water mark.

        Distributed assignment, zero extra shuffle: the write set is
        persisted (pins partitioning across the two passes), one bounded
        job counts rows per partition, then an Arrow-batched
        ``mapInPandas`` stamps each partition's contiguous id range from
        the broadcast offsets — the standard dense-id pattern at scale
        (a global row_number() would funnel everything through one
        partition).  Returns (df, identity actions); the write set is
        persisted through ``pin`` (see ``_pinned``), whose scope must
        span the segment write.  Concurrency:
        allocation assumes one writer per table at a time (same posture
        as COPY INTO racing); OCC still serializes the commits
        themselves."""
        defs = self._identity_columns()
        if not defs:
            return df, []
        provided = sorted(set(defs) & set(df.columns))
        bad = [c for c in provided if defs[c].get("always", True)]
        if bad:
            raise ValueError(
                f"identity column(s) {bad} are GENERATED ALWAYS — "
                "explicit values are refused; omit them from the write")
        # BY DEFAULT columns present in the frame keep their explicit
        # values; only NULL slots are engine-assigned.  Absent columns
        # (either kind) are assigned for every row.
        all_cols = [c for c in defs if c not in df.columns]
        null_cols = [c for c in defs if c in df.columns]
        high = self._meta_state().get("identityHighWater", {})
        # The partition id is materialized as a COLUMN inside the cached
        # frame, not read from TaskContext at stamp time: a caller that
        # unions the stamped frame with another before writing (MERGE's
        # rewritten+inserts) shifts task partition ids by the other
        # side's partition count, which would silently mis-bind every
        # offset (duplicate ids); a column rides the rows and is immune.
        df = pin(df.withColumn("__id_pid", F.spark_partition_id()))
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in null_cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long"))
                        .alias(f"__nn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = df.groupBy("__id_pid").agg(*aggs).collect()
        counts = {r["__id_pid"]: r["__n"] for r in rows}

        def offsets_of(cnt: dict) -> tuple[dict, int]:
            off, acc = {}, 0
            for pid in sorted(cnt):
                off[pid] = acc
                acc += cnt[pid]
            return off, acc

        offsets, total = offsets_of(counts)
        null_offsets, null_totals = {}, {}
        explicit_max = {}
        for c in null_cols:
            off, tot = offsets_of(
                {r["__id_pid"]: (r[f"__nn_{c}"] or 0) for r in rows})
            null_offsets[c], null_totals[c] = off, tot
            mxs = [r[f"__mx_{c}"] for r in rows
                   if r[f"__mx_{c}"] is not None]
            explicit_max[c] = max(mxs) if mxs else None
        firsts = {c: (int(high[c]) + spec["step"] if c in high
                      else spec["start"])
                  for c, spec in defs.items()}
        steps = {c: spec["step"] for c, spec in defs.items()}
        schema = T.StructType(
            [T.StructField(f.name, T.LongType() if f.name in null_cols
                           else f.dataType, f.nullable)
             for f in df.schema.fields if f.name != "__id_pid"]
            + [T.StructField(c, T.LongType(), False) for c in all_cols])

        def stamp(batches):
            import numpy as np

            pid = None
            seen = 0
            seen_null = {c: 0 for c in null_cols}
            for pdf in batches:
                if pid is None and len(pdf):
                    pid = int(pdf["__id_pid"].iloc[0])
                pdf = pdf.drop(columns="__id_pid")
                n = len(pdf)
                for c in all_cols:
                    first = firsts[c] + steps[c] * (offsets.get(pid, 0)
                                                    + seen)
                    pdf[c] = first + steps[c] * np.arange(n, dtype="int64")
                for c in null_cols:
                    mask = pdf[c].isna().to_numpy()
                    k = int(mask.sum())
                    if k:
                        first = firsts[c] + steps[c] * (
                            null_offsets[c].get(pid, 0) + seen_null[c])
                        s = pdf[c].copy()
                        s[mask] = first + steps[c] * np.arange(
                            k, dtype="int64")
                        pdf[c] = s
                        seen_null[c] += k
                    pdf[c] = pdf[c].astype("int64")
                seen += n
                yield pdf

        out = df.mapInPandas(stamp, schema)
        actions = []
        for c in defs:
            if c in all_cols:
                hw = (firsts[c] + steps[c] * (total - 1)) if total else None
            else:
                hw = (firsts[c] + steps[c] * (null_totals[c] - 1)
                      if null_totals[c] else None)
                if explicit_max[c] is not None:
                    # max-merge explicit values into the high-water mark
                    # so future engine assignments can never collide with
                    # user-supplied ids (no SYNC IDENTITY step needed)
                    hw = (int(explicit_max[c]) if hw is None
                          else max(hw, int(explicit_max[c])))
            if hw is not None:
                actions.append(
                    {"identity": {"column": c, "highWater": hw}})
        return out, actions

    def _widen_cast(self, df: DataFrame) -> DataFrame:
        """After ALTER COLUMN TYPE, incoming frames may still carry the
        pre-widening narrow type: cast them up so NEW segments land wide
        (reads are correct either way — the requested schema widens — but
        uniform new files keep CDF unions and footer stats exact).  Never
        down-casts: a frame already wider than declared is left alone."""
        try:
            if not self._meta_state().get("typeWidened"):
                return df
            _, schema_json = self._snapshot_files()
        except FileNotFoundError:
            return df
        if schema_json is None:
            return df
        declared = {f.name: f.dataType
                    for f in T.StructType.fromJson(json.loads(schema_json))}
        casts = {}
        for f in df.schema.fields:
            want = declared.get(f.name)
            if want is None or want == f.dataType:
                continue
            if want.simpleString() in self._WIDENINGS.get(
                    f.dataType.simpleString(), ()):
                casts[f.name] = F.col(f.name).cast(want)
        return df.withColumns(casts) if casts else df

    def _write_segments(self, df: DataFrame) -> list[str]:
        """Write ``df`` as immutable parquet segments; return table-relative
        paths.  Unpartitioned: each write lands in its own uuid'd subdir so
        segment names never collide across commits (immutability by
        construction).  Partitioned: the Hive/Delta layout — files land
        under ``col=value/`` dirs at the table root with a per-write uuid
        prefix on the file name (uniqueness without per-commit dirs, so a
        single ``basePath`` read recovers the partition column for ANY
        subset of active files).

        OPTIMIZED WRITE (``txlog.optimizeWrite.enabled`` — Delta's
        ``delta.autoOptimize.optimizeWrite``): pre-write shuffle so a
        commit lands FEW WELL-SIZED files instead of one file per input
        task — the small-file killer.  Partitioned tables repartition
        on the partition columns (each partition's rows converge on one
        task instead of every task writing into every partition: a
        32-task append into 100 partitions writes 100 files, not
        3 200); unpartitioned tables repartition to
        ``txlog.optimizeWrite.numFiles`` (default 4).  A pre-write
        exchange trades one shuffle for the avoided downstream
        compaction — exactly the trade auto-compaction makes after the
        fact, paid before the fact."""
        df = self._widen_cast(df)
        df = self._to_physical(df)
        parts = self._partition_columns()
        try:
            props = self.properties()
        except FileNotFoundError:  # during CREATE: no log yet
            props = getattr(self, "_pending_properties", None) or {}
        if str(props.get("txlog.optimizeWrite.enabled",
                         "false")).lower() == "true":
            if parts:
                phys_parts = [self._physical_name(c) for c in parts]
                df = df.repartition(*[F.col(c) for c in phys_parts])
            else:
                df = df.repartition(
                    int(props.get("txlog.optimizeWrite.numFiles", "4")))
        seg = uuid.uuid4().hex[:12]
        if not parts:
            sub = f"data-{seg}"
            out = os.path.join(self.path, sub)
            df.write.mode("errorifexists").parquet(out)
            return [
                os.path.join(sub, os.path.basename(p))
                for p in sorted(glob.glob(os.path.join(out, "part-*.parquet")))
            ]
        stage = os.path.join(self.path, f".tmpseg-{seg}")
        df.write.partitionBy(*parts).parquet(stage)
        rel: list[str] = []
        for p in sorted(glob.glob(os.path.join(stage, *["*=*"] * len(parts),
                                               "part-*.parquet"))):
            kv_rel = os.path.relpath(os.path.dirname(p), stage)
            dest_dir = os.path.join(self.path, kv_rel)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir,
                                f"data-{seg}-{os.path.basename(p)}")
            os.replace(p, dest)
            rel.append(os.path.relpath(dest, self.path))
        shutil.rmtree(stage)
        return rel

    def _write_change_data(self, changes: DataFrame) -> str:
        """Persist a commit's row-level change data under _change_data/
        (immutable, uuid'd like data segments); return the table-relative
        path recorded in the commit's ``cdf`` action."""
        sub = os.path.join("_change_data", f"cdf-{uuid.uuid4().hex[:12]}")
        changes.write.mode("errorifexists").parquet(
            os.path.join(self.path, sub))
        return sub

    def _add_actions(self, rel_paths: list[str]) -> list[dict]:
        """add actions with per-file footer statistics (Delta's ``stats``
        field) — the write-time metadata that powers read-time data
        skipping — plus ``partitionValues`` parsed from the Hive-style
        path components for partitioned tables.  Footer-only reads, so
        cost is O(files)."""
        from urllib.parse import unquote

        bloom_cols = self._bloom_columns()
        out = []
        for p in rel_paths:
            abs_p = os.path.join(self.path, p)
            stats = _file_stats(abs_p)
            if bloom_cols and stats is not None:
                # Per-file Bloom filters (Delta's bloom filter index):
                # one column read per indexed column at write time — the
                # write-side cost that buys point-lookup file skipping on
                # columns whose min/max ranges overlap across every file.
                import pyarrow.parquet as pq
                blooms = {}
                try:
                    pf = pq.ParquetFile(abs_p)
                    present = set(pf.schema_arrow.names)
                    for c in bloom_cols:
                        if c not in present:
                            continue
                        vals = pf.read(columns=[c]).column(c).to_pylist()
                        blooms[c] = _build_bloom(vals, len(vals))
                except Exception:
                    blooms = {}  # unreadable column: keep file unskippable
                if blooms:
                    stats = dict(stats)
                    stats["bloom"] = blooms
            pv = {}
            for comp in p.split(os.sep)[:-1]:
                if "=" in comp and not comp.startswith("data-"):
                    k, _, v = comp.partition("=")
                    pv[k] = unquote(v)
            if pv:
                # partition values ride inside the stats blob so the
                # snapshot/checkpoint machinery carries them for free
                stats = dict(stats or {"numRecords": None, "minValues": {},
                                       "maxValues": {}, "nullCount": {}})
                stats["partitionValues"] = pv
            out.append({"add": {"path": p, "stats": stats}})
        return out

    # -- public ops ---------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               overwrite: bool = False,
               enable_cdf: bool = False,
               partition_by: str | list[str] | None = None,
               generated_columns: dict[str, str] | None = None,
               bloom_filter_columns: list[str] | None = None,
               column_mapping_mode: str = "name",
               identity_columns: dict | None = None,
               cluster_by: list[str] | None = None,
               row_tracking: bool = False) -> "TxLogTable":
        t = cls(spark, path, enable_cdf=enable_cdf)
        if os.path.exists(t.log_dir):
            if not overwrite:
                raise FileExistsError(f"txlog table already exists at {path}")
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        if column_mapping_mode not in ("name", "id"):
            raise ValueError(
                f"column_mapping_mode must be 'name' or 'id', got "
                f"{column_mapping_mode!r}")
        if column_mapping_mode == "id" and (
                partition_by or generated_columns or bloom_filter_columns):
            # v1 scope: id-mode interacts with dir-name layouts and
            # name-referencing definitions; loud refusal over partial
            # support (same posture as CONVERT's layout refusals)
            raise ValueError(
                "column_mapping_mode='id' does not combine with "
                "partition_by / generated_columns / bloom_filter_columns")
        gen = dict(generated_columns or {})
        if gen:
            # applied BEFORE partition validation: partitioning by a
            # generated column (Delta's flagship use — day(ts) partitions
            # derived from a timestamp) must see the computed column.
            t._pending_generated_columns = gen
            df = t._apply_generated(df)
        parts = ([partition_by] if isinstance(partition_by, str)
                 else list(partition_by or []))
        meta: dict = {"schemaJson": df.schema.json()}
        if gen:
            meta["generatedColumns"] = gen
        bloom = list(bloom_filter_columns or [])
        if bloom:
            meta["bloomFilterColumns"] = bloom
            t._pending_bloom_columns = bloom
        if cluster_by:
            # Delta liquid-clustering shape: the clustering columns are
            # TABLE METADATA, not a per-OPTIMIZE argument — every plain
            # OPTIMIZE re-clusters incrementally on them (see
            # optimize_compact); writes stay cheap (clustering is lazy).
            missing = set(cluster_by) - {f.name for f in df.schema.fields}
            if missing:
                raise ValueError(
                    f"clustering columns not in schema: {sorted(missing)}")
            overlap = set(cluster_by) & set(parts)
            if overlap:
                raise ValueError(
                    f"columns {sorted(overlap)} cannot be both partition "
                    "and clustering columns")
            meta["clusteringColumns"] = list(cluster_by)
        if parts:
            missing = set(parts) - {f.name for f in df.schema.fields}
            if missing:
                raise ValueError(
                    f"partition columns not in schema: {sorted(missing)}")
            meta["partitionColumns"] = parts
            # _write_segments resolves partition columns from the log,
            # which does not exist yet at CREATE: pre-commit the metaData
            # via an instance attribute override.
            t._pending_partition_columns = parts
        with t._pinned() as pin:
            ident_actions: list = []
            if identity_columns:
                # Delta GENERATED ALWAYS AS IDENTITY: {"id": {"start": 1,
                # "step": 1}} (int shorthand = start, step 1); step >= 1 in
                # v1.  The identity column is engine-assigned from CREATE on
                # and joins the schema as a non-null long.  "always": False
                # = GENERATED BY DEFAULT AS IDENTITY — explicit values are
                # accepted and only absent/NULL slots are engine-assigned.
                defs = {}
                for c, spec in identity_columns.items():
                    if isinstance(spec, int):
                        spec = {"start": spec, "step": 1}
                    if int(spec.get("step", 1)) < 1:
                        raise ValueError(
                            f"identity column {c!r}: step must be >= 1")
                    defs[c] = {"start": int(spec.get("start", 1)),
                               "step": int(spec.get("step", 1)),
                               "always": bool(spec.get("always", True))}
                t._pending_identity_columns = defs
                meta["identityColumns"] = defs
                df, ident_actions = t._assign_identity(df, pin)
                meta["schemaJson"] = df.schema.json()
            if column_mapping_mode == "id":
                # every column gets an opaque physical id from birth; files
                # never carry a logical name, so drop + re-introduce is safe
                mapping = {f.name: cls._new_physical_id()
                           for f in df.schema.fields}
                meta["columnMapping"] = mapping
                meta["columnMappingMode"] = "id"
                t._pending_column_mapping = mapping
            rel = t._write_segments(df)
        if identity_columns:
            del t._pending_identity_columns
        if column_mapping_mode == "id":
            del t._pending_column_mapping
        if row_tracking:
            meta["rowTracking"] = True
            t._pending_row_tracking = True
        actions = (
            [{"commit": {"op": "CREATE", "ts": t._next_ts()}},
             {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": meta}]
            + ident_actions
            + t._add_actions(rel)
        )
        if row_tracking:
            t._stamp_row_ids(actions)
            del t._pending_row_tracking
        if not t._try_commit(0, actions):
            raise FileExistsError(f"concurrent create at {path}")
        t._maybe_crc(0, actions)
        return t

    @classmethod
    def convert_from_parquet(cls, spark: SparkSession,
                             path: str) -> "TxLogTable":
        """CONVERT TO DELTA, in place: adopt an EXISTING plain-parquet
        directory as a transaction-log table without copying or
        rewriting a byte — commit 0 lists the directory's current part
        files as add actions (with footer stats harvested then, so data
        skipping works immediately) and records the schema; the files
        themselves never move.  Hive-layout directories (``col=value/``
        subdirs) convert with their partition columns recognized, so
        partition pruning works from the first read.  Subsequent DML is
        ordinary txlog operation: MERGE/DELETE rewrite into new
        segments and de-list the originals, which VACUUM then collects.
        At 100 TB this is how an existing parquet lake adopts ACID
        without a 100 TB rewrite — exactly Delta's CONVERT contract."""
        t = cls(spark, path)
        if os.path.exists(t.log_dir):
            raise FileExistsError(f"already a txlog table: {path}")
        flat = sorted(
            os.path.relpath(p, path)
            for p in glob.glob(os.path.join(path, "*.parquet")))
        parts: list[str] = []
        hive = [d for d in sorted(glob.glob(os.path.join(path, "*=*")))
                if os.path.isdir(d)]
        if hive:
            # one-level Hive layout: partition columns from the dir names.
            # Anything we don't FULLY recognize is a loud refusal, never a
            # partial adoption (ADVICE r6: silently skipping unrecognized
            # subtrees converts a table with missing data):
            #   * mixed root-level parquet + col=value/ dirs is ambiguous
            #     (which files are the table?),
            #   * >1 distinct partition key or nested col=value/ levels are
            #     layouts this one-level converter does not model.
            cols = sorted({os.path.basename(d).partition("=")[0]
                           for d in hive})
            if flat:
                raise ValueError(
                    f"mixed layout at {path}: both root-level parquet "
                    f"({len(flat)} file(s)) and Hive-style partition "
                    f"dirs {cols}; refusing a partial adoption — "
                    "separate the two layouts before CONVERT")
            if len(cols) != 1:
                raise ValueError(
                    f"unsupported Hive layout at {path}: multiple "
                    f"partition keys {cols}; this converter adopts "
                    "one-level col=value layouts only")
            nested = sorted(glob.glob(os.path.join(path, "*=*", "*=*")))
            if nested:
                raise ValueError(
                    f"unsupported Hive layout at {path}: nested "
                    "partition levels "
                    f"({os.path.relpath(nested[0], path)}...); this "
                    "converter adopts one-level col=value layouts only")
            parts = cols
            flat = sorted(
                os.path.relpath(p, path)
                for p in glob.glob(os.path.join(path, "*=*", "*.parquet")))
        if not flat:
            raise FileNotFoundError(f"no parquet files under {path}")
        reader = spark.read
        if parts:
            reader = reader.option("basePath", path)
            t._pending_partition_columns = parts
        schema = reader.parquet(
            *[os.path.join(path, p) for p in flat]).schema
        if parts:
            del t._pending_partition_columns
        meta: dict = {"schemaJson": schema.json()}
        if parts:
            meta["partitionColumns"] = parts
        actions = (
            [{"commit": {"op": "CONVERT", "ts": t._next_ts(),
                         "filesAdopted": len(flat)}},
             {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": meta}]
            + t._add_actions(flat)
        )
        if not t._try_commit(0, actions):
            raise FileExistsError(f"concurrent convert at {path}")
        t._maybe_crc(0, actions)
        return t

    def _schema_evolution_action(self, df: DataFrame) -> list[dict]:
        """If ``df`` introduces columns absent from the table's recorded
        schema, return an updated metaData action (existing fields first,
        new fields appended nullable), so the LAST metaData in the log
        always reflects the current read schema — in particular an empty
        snapshot after a delete-all keeps evolved columns."""
        try:
            _, schema_json = self._snapshot_files()
        except FileNotFoundError:
            return []
        if schema_json is None:
            return [{"metaData": {"schemaJson": df.schema.json()}}]
        cur = T.StructType.fromJson(json.loads(schema_json))
        have = {f.name for f in cur.fields}
        # "__rid" is row tracking's materialized physical column — never
        # part of the logical schema
        new = [f for f in df.schema.fields
               if f.name not in have and f.name != "__rid"]
        if not new:
            return []
        if self._column_mapping_mode() == "id":
            # id mode: a (re-)introduced logical name gets a FRESH
            # physical id, so old segments' data can never resurface
            # under it — no retired-name clash possible (Delta's id-based
            # mode; the name-based branch below must refuse instead)
            mapping = dict(self._column_mapping())
            for f in new:
                mapping[f.name] = self._new_physical_id()
            merged = T.StructType(
                list(cur.fields)
                + [T.StructField(f.name, f.dataType, True) for f in new])
            return [{"metaData": {"schemaJson": merged.json(),
                                  "columnMapping": mapping,
                                  "retiredPhysical":
                                      self._retired_physical()}}]
        retired = set(self._retired_physical())
        clash = sorted({f.name for f in new} & retired)
        if clash:
            raise ValueError(
                f"cannot re-introduce dropped column(s) {clash}: old "
                "segments still carry physical data under those names "
                "and would silently resurrect stale values; use a "
                "different column name")
        # a RENAME vacates its old LOGICAL name but the physical name
        # stays in use by the renamed column: a new column reusing it
        # would write under the same physical name and the renamed
        # column's reads would silently serve the new column's values
        # from new segments (r8; same corruption class as the retired-
        # name clash above — id mode is immune by construction)
        mapping = self._column_mapping()
        in_use_phys = {phys for log, phys in mapping.items() if phys != log}
        clash = sorted({f.name for f in new} & in_use_phys)
        if clash:
            raise ValueError(
                f"cannot introduce column(s) {clash}: the name(s) are in "
                "use as the PHYSICAL name of a renamed column — existing "
                "segments already carry that column's data under them; "
                "use a different column name")
        merged = T.StructType(
            list(cur.fields)
            + [T.StructField(f.name, f.dataType, True) for f in new])
        return [{"metaData": {"schemaJson": merged.json()}}]

    def _check_constraint(self, df: DataFrame, name: str, expr: str) -> None:
        """Raise if any row of ``df`` violates the CHECK constraint.
        SQL CHECK semantics: only rows where the expression evaluates to
        FALSE violate (NULL passes).  Cost: one aggregate over the rows
        being written — never the table."""
        try:
            pred = F.expr(expr).cast("boolean")
        except Exception as exc:  # unparseable expression
            raise ValueError(f"CHECK constraint {name!r}: bad expression "
                             f"{expr!r}: {exc}") from exc
        bad = df.filter(~F.coalesce(pred, F.lit(True))).limit(1).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} violated: rows failed "
                f"({expr})")

    def _validate_constraints(self, df: DataFrame) -> None:
        """Enforce every active CHECK constraint — and every NOT NULL
        column invariant — against the rows about to be written (append
        / merge updates / post-UPDATE images) — Delta's write-time
        enforcement.  Compaction and restore skip this: they rearrange
        rows that already passed."""
        for name, expr in self._txn_constraint_state()[1].items():
            self._check_constraint(df, name, expr)
        for c in self.not_null_columns():
            if c in df.columns:
                self._check_constraint(
                    df, f"NOT NULL ({c})", f"{c} IS NOT NULL")

    def not_null_columns(self) -> list[str]:
        """Columns carrying a NOT NULL invariant (Delta's column
        invariants / non-nullable schema fields)."""
        return self._meta_state().get("notNullColumns", [])

    def set_not_null(self, name: str) -> int:
        """``ALTER TABLE t ALTER COLUMN c SET NOT NULL``: validates the
        CURRENT snapshot first (one scan — refused if existing rows hold
        NULL, same as Delta), then records the invariant in table
        metadata; every subsequent write refuses rows with a NULL in the
        column.  Metadata-only on the happy path; idempotent."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name!r}")
        current = self.not_null_columns()
        if name in current:
            return self.latest_version()
        self._check_constraint(self._read_active(), f"NOT NULL ({name})",
                               f"{name} IS NOT NULL")
        actions = [
            {"commit": {"op": "SET NOT NULL",
                        "ts": self._next_ts(), "column": name}},
            {"metaData": {"schemaJson": schema_json,
                          "notNullColumns": sorted(set(current) | {name})}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def drop_not_null(self, name: str) -> int:
        """``ALTER TABLE t ALTER COLUMN c DROP NOT NULL`` — metadata
        only; missing invariant is a no-op (like Delta)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        current = self.not_null_columns()
        if name not in current:
            return self.latest_version()
        actions = [
            {"commit": {"op": "DROP NOT NULL",
                        "ts": self._next_ts(), "column": name}},
            {"metaData": {"schemaJson": schema_json,
                          "notNullColumns": [c for c in current
                                             if c != name]}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the
        CURRENT snapshot first (one scan — same as Delta, which refuses
        a constraint existing data violates), then commits the
        constraint action; every subsequent write validates its rows
        against it."""
        if name in self._txn_constraint_state()[1] \
                or name in self.expectations():
            raise ValueError(
                f"constraint/expectation {name!r} already exists")
        base_version = self.latest_version()
        self._check_constraint(self._read_active(), name, expr)
        actions = [
            {"commit": {"op": "ADD CONSTRAINT",
                        "ts": self._next_ts(), "name": name}},
            {"constraint": {"name": name, "expr": expr}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def drop_constraint(self, name: str) -> int:
        if name not in self._txn_constraint_state()[1]:
            raise ValueError(f"no such constraint: {name!r}")
        actions = [
            {"commit": {"op": "DROP CONSTRAINT",
                        "ts": self._next_ts(), "name": name}},
            {"constraint": {"name": name, "drop": True}},
        ]
        return self._commit_with_occ(actions, [], self.latest_version())

    # -- DLT expectations (data-quality gates with per-commit metrics) -------

    def expectations(self) -> dict:
        """Active expectations: ``{name: {"expr": sql, "action":
        "warn"|"drop"|"fail"}}`` (DLT's ``EXPECT (pred) [ON VIOLATION
        DROP ROW | FAIL UPDATE]``) — recorded in table properties, so
        they ride checkpoints and survive engine restarts."""
        return json.loads(self.properties().get("txlog.expectations",
                                                "{}"))

    def add_expectation(self, name: str, expr: str,
                        action: str = "warn") -> int:
        """DLT expectation DDL: unlike a CHECK constraint this does NOT
        validate or constrain existing data — it gates every subsequent
        INGEST (append / CDC folds), recording per-commit pass/fail
        metrics in the commit info (``DESCRIBE HISTORY``):

        - ``warn`` (DLT's plain EXPECT): violating rows are KEPT, the
          violation count is recorded;
        - ``drop`` (ON VIOLATION DROP ROW): violating rows are dropped
          before the write, count recorded;
        - ``fail`` (ON VIOLATION FAIL UPDATE): any violation aborts the
          whole ingest before anything commits.

        A NULL predicate result counts as a violation (DLT keeps only
        rows where the expectation evaluates true)."""
        if action not in ("warn", "drop", "fail"):
            raise ValueError(
                f"expectation action must be warn|drop|fail, "
                f"got {action!r}")
        exps = self.expectations()
        if name in exps or name in self._txn_constraint_state()[1]:
            raise ValueError(
                f"constraint/expectation {name!r} already exists")
        # parse/analysis check only — expectations never scan existing
        # data (DLT contract: they gate flows, not tables)
        self._read_active().limit(0).filter(
            F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        ).collect()
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        merged = self.properties()
        exps[name] = {"expr": expr, "action": action}
        merged["txlog.expectations"] = json.dumps(exps, sort_keys=True)
        actions = [
            {"commit": {"op": "ADD EXPECTATION", "ts": self._next_ts(),
                        "name": name, "action": action}},
            {"metaData": {"schemaJson": schema_json,
                          "properties": merged}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def drop_expectation(self, name: str) -> int:
        exps = self.expectations()
        if name not in exps:
            raise ValueError(f"no such expectation: {name!r}")
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        merged = self.properties()
        del exps[name]
        merged["txlog.expectations"] = json.dumps(exps, sort_keys=True)
        actions = [
            {"commit": {"op": "DROP EXPECTATION", "ts": self._next_ts(),
                        "name": name}},
            {"metaData": {"schemaJson": schema_json,
                          "properties": merged}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def _apply_expectations(self, df: DataFrame, exempt=None):
        """Gate an ingest batch through the table's expectations.
        Returns ``(gated_df, commit_extra)`` where ``commit_extra`` is
        ``{}`` or ``{"expectations": {name: {"failed": n, "passed": n,
        "action": …}}}`` to splat into the commit info.  ONE aggregate
        job computes every expectation's violation count (plus the
        batch total) regardless of how many expectations are attached;
        ``drop`` rows are filtered from the returned frame; any
        ``fail`` violation raises BEFORE anything is written.
        ``exempt`` (a boolean Column) marks rows that bypass the gates
        — the CDC folds exempt delete events, whose masked/NULL
        payloads are not data rows.

        The batch is ``persist()``-ed around the gate (ADVICE r11): the
        stats aggregate MATERIALIZES it, so with a non-deterministic
        source (mutable files re-read between jobs, ``rand()``-derived
        columns) the recorded pass/fail metrics, the drop filter, and
        the rows the write consumes all derive from the SAME evaluated
        frame — a FAIL gate can never pass on the stats job while
        different (violating) rows land in the segments.  The cached
        frame is released at the next commit on this table from the
        same thread (``_commit_with_occ`` calls ``_exp_gc`` — by then
        every segment/CDF write has consumed it) and defensively at the
        next gate, covering aborted operations."""
        exps = self.expectations()
        if not exps:
            return df, {}
        self._exp_gc()
        df = df.persist()
        tl = self._exp_tl()
        tl.frames.append(df)
        ex = F.lit(False) if exempt is None else exempt
        preds = {
            name: F.coalesce(F.expr(spec["expr"]).cast("boolean"),
                             F.lit(False))
            for name, spec in exps.items()
        }
        aggs = [F.count("*").alias("__total"),
                F.sum(ex.cast("long")).alias("__exempt")]
        aggs += [F.sum((~ex & ~pred).cast("long")).alias(f"__f_{name}")
                 for name, pred in preds.items()]
        try:
            stats = df.agg(*aggs).collect()[0]
            gated_rows = int(stats["__total"] or 0) - int(stats["__exempt"]
                                                          or 0)
            metrics: dict = {}
            for name in sorted(exps):
                spec = exps[name]
                failed = int(stats[f"__f_{name}"] or 0)
                metrics[name] = {"failed": failed,
                                 "passed": gated_rows - failed,
                                 "action": spec["action"]}
                if failed and spec["action"] == "fail":
                    raise ValueError(
                        f"expectation {name!r} violated by {failed} row(s) "
                        f"({spec['expr']}) — ON VIOLATION FAIL UPDATE "
                        "aborts the ingest; nothing was committed")
        except BaseException:
            self._exp_gc()
            raise
        for name, spec in sorted(exps.items()):
            if spec["action"] == "drop":
                df = df.filter(ex | preds[name])
        return df, {"expectations": metrics}

    def _exp_tl(self):
        """Thread-local holder for expectation-gated cached frames —
        thread-local so concurrent flows into ONE table object (e.g.
        two streaming sinks, each driving its own foreachBatch thread)
        never release each other's in-flight batch."""
        tl = self.__dict__.get("_exp_tl_store")
        if tl is None:
            tl = self.__dict__["_exp_tl_store"] = threading.local()
        if not hasattr(tl, "frames"):
            tl.frames = []
        return tl

    def _exp_gc(self) -> None:
        """Release expectation-gate caches pinned by THIS thread (see
        ``_apply_expectations``); safe to call any time after the
        gated batch's writes finished."""
        tl = self._exp_tl()
        frames, tl.frames = tl.frames, []
        for fr in frames:
            try:
                fr.unpersist()
            except Exception:
                pass

    def append(self, df: DataFrame, txn_app_id: str | None = None,
               txn_version: int | None = None) -> int:
        """Append ``df`` as new segments.  With ``txn_app_id`` +
        ``txn_version`` the append is IDEMPOTENT (Delta's
        txnAppId/txnVersion contract): if a commit for this app with an
        equal-or-higher version already exists, the call is a no-op —
        the exactly-once foundation for streaming sinks, where a
        restarted query replays its last micro-batch (same epoch id)
        into the sink a second time."""
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version go together")
        if txn_app_id is not None and \
                self.txn_version_for(txn_app_id) >= txn_version:
            return self.latest_version()  # replayed batch: already applied
        df = self._fill_defaults(df)
        df = self._apply_generated(df)
        df, exp_commit = self._apply_expectations(df)
        with self._pinned() as pin:
            df, ident_actions = self._assign_identity(df, pin)
            self._validate_constraints(df)
            # evolution guard BEFORE the segment write: a refused column
            # (retired / vacated-physical clash) must fail loudly here,
            # not crash mid-write on a duplicate physical name
            evolution = self._schema_evolution_action(df)
            rel = self._write_segments(df)
        txn_actions = ([] if txn_app_id is None else
                       [{"txn": {"appId": txn_app_id,
                                 "version": int(txn_version)}}])
        actions = (
            [{"commit": {"op": "APPEND", "ts": self._next_ts(),
                         **exp_commit}}]
            + txn_actions
            + evolution
            + ident_actions
            + self._add_actions(rel)
        )
        if self._staged is not None:
            if txn_app_id is not None and \
                    self.txn_version_for(txn_app_id) >= txn_version:
                return self.latest_version()
            self._staged.append({"actions": actions, "removed": [],
                                 "key_ranges": []})
            return self.latest_version()
        self._assert_writable()
        rid_fresh = (self._fresh_add_paths(actions)
                     if self._row_tracking_enabled() else None)
        while True:
            # Recompute the commit ts each attempt (ADVICE r6): the loser of
            # a claim race must not retry with a ts stamped before the
            # winner's commit, or in-commit timestamps go non-monotonic.
            actions[0]["commit"]["ts"] = max(
                int(actions[0]["commit"]["ts"]), self._next_ts())
            self._stamp_row_ids(actions, rid_fresh)
            v = self.latest_version() + 1
            if txn_app_id is not None and \
                    self.txn_version_for(txn_app_id) >= txn_version:
                # lost an OCC race to a writer that committed this very
                # batch (e.g. the pre-restart attempt): drop ours.  The
                # staged segments are unreferenced; vacuum's age guard
                # collects them.
                return self.latest_version()
            if self._try_commit(v, actions):
                self._maybe_crc(v, actions)
                self._maybe_checkpoint(v)
                self._maybe_auto_compact()
                self._maybe_uniform()
                return v

    def streaming_sink(self, app_id: str):
        """foreachBatch writer with exactly-once semantics: Structured
        Streaming guarantees at-least-once foreachBatch invocation with
        a DETERMINISTIC batch_id per epoch; recording that id as the
        idempotent txn version turns replays into no-ops, so rows land
        exactly once no matter how often the query restarts.  Usage::

            q = (df.writeStream.foreachBatch(table.streaming_sink("job1"))
                 .option("checkpointLocation", ckpt).start())
        """
        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.append(batch_df, txn_app_id=app_id,
                        txn_version=int(batch_id))
        return write_batch

    # -- multi-statement transactions ---------------------------------------

    def begin_transaction(self) -> int:
        """Start a multi-statement transaction on THIS handle: subsequent
        operations stage their actions as virtual log versions (visible
        to reads through this handle — read-your-writes) instead of
        committing; :meth:`commit_transaction` publishes everything as
        ONE log commit (one version, atomic, OCC-checked against the
        begin snapshot); :meth:`rollback_transaction` discards it all.
        This generalizes Delta's multi-action commit — the commit JSON
        already carries arbitrarily many actions — to several statements
        (the reference's replicated log carries arbitrary statement
        sequences, /root/reference/src/raft/node.go:16-19; batching
        them into one commit is the ACID analogue).  Data segments
        written by staged ops become unreferenced files on rollback;
        VACUUM's age guard collects them.  Returns the begin version."""
        if self._staged is not None:
            raise RuntimeError("transaction already in progress")
        self._txn_base = self.latest_version()
        self._staged = []
        return self._txn_base

    def staged_statement_count(self) -> int:
        """Operations staged by the open transaction (0 if none open)."""
        return len(self._staged) if self._staged is not None else 0

    def commit_transaction(self) -> int:
        """Publish the open transaction as one commit; see
        :meth:`begin_transaction`.  An empty transaction commits
        nothing.  Returns the resulting table version."""
        if self._staged is None:
            raise RuntimeError("no transaction in progress")
        staged, base = self._staged, self._txn_base
        self._staged, self._txn_base = None, None
        if not staged:
            return self.latest_version()
        removed: list[str] = []
        ranges: dict[str, dict] = {}  # per key column, merged
        tail: list[dict] = []
        for s in staged:
            for a in s["actions"]:
                if "commit" in a:
                    # one commitInfo per version (Delta's shape): the
                    # sub-statement's own commit metadata is preserved
                    # as an informational txnStep action
                    tail.append({"txnStep": a["commit"]})
                else:
                    tail.append(a)
            removed.extend(s["removed"])
            for r in s["key_ranges"]:
                col = r["column"]
                have = ranges.get(col)
                if have is None:
                    ranges[col] = dict(r)
                else:
                    try:
                        ranges[col] = {"column": col,
                                       "min": min(have["min"], r["min"]),
                                       "max": max(have["max"], r["max"])}
                    except TypeError:  # NULL/incomparable bound
                        ranges[col] = {"column": col,
                                       "min": None, "max": None}
        commit: dict = {"op": "TXN", "ts": self._next_ts(),
                        "statements": len(staged)}
        if ranges:
            # advertised so OTHER writers' OCC sees this txn's merge
            # ranges exactly like a standalone MERGE's keyRange
            commit["keyRanges"] = list(ranges.values())
        actions = [{"commit": commit}] + tail
        # OCC checks only files that existed at BEGIN: a segment the
        # transaction itself staged and later rewrote (UPDATE adds Y,
        # DELETE removes Y) never reaches disk, so leaving it in the
        # removed list would make the 'gone' check read its absence as a
        # rival's removal and raise a spurious conflict on any commuting
        # concurrent commit (ADVICE r7).
        begin_active = self._snapshot_files(base)[0] if base >= 0 else []
        begin_rel = {self._rel(p) for p in begin_active}
        removed = [p for p in removed if p in begin_rel]
        txn_domains = sorted({d for s in staged
                              for d in s.get("domains", [])})
        txn_dv_guards = [g for s in staged
                         for g in s.get("dv_guards", [])]
        return self._commit_with_occ(actions, removed, base,
                                     list(ranges.values()) or None,
                                     domains=txn_domains or None,
                                     dv_guards=txn_dv_guards or None)

    def rollback_transaction(self) -> None:
        """Discard the open transaction's staged actions (segments they
        wrote become unreferenced; VACUUM's age guard collects them)."""
        if self._staged is None:
            raise RuntimeError("no transaction in progress")
        self._staged, self._txn_base = None, None

    def _read_active(self, version: int | None = None,
                     with_file: bool = False, with_pos: bool = False,
                     only: list[str] | None = None,
                     with_rid: bool = False) -> DataFrame:
        """The canonical snapshot reader: mergeSchema parquet scan of the
        active files with DELETION VECTORS applied (merge-on-read).

        Files without DVs take the plain fast path — no metadata columns,
        no join.  Files carrying DVs are read with ``_metadata``
        file/row-position columns and anti-joined against the
        (broadcast-small) DV row set; position-based, so no data column
        is interpreted.  ``with_file`` keeps an absolute ``_file``
        column; ``with_pos`` keeps ``__relfile``/``__rowidx`` (the DV
        coordinate space).  ``only`` restricts to a subset of the active
        files (absolute paths) — used by copy-on-write operators that
        rewrite touched segments and must not resurrect DV-deleted
        rows."""
        self._assert_readable(version)
        active, schema_json, dvs = self._snapshot_full(version)
        sel = list(active)
        if only is not None:
            onlyset = {os.path.normpath(p) for p in only}
            sel = [p for p in sel
                   if os.path.normpath(os.path.join(self.path, p)) in onlyset]
        base_abs = os.path.abspath(self.path)
        need_meta = with_file or with_pos
        if not sel:
            schema = T.StructType.fromJson(json.loads(schema_json))
            fields = list(schema.fields)
            if with_file:
                fields.append(T.StructField("_file", T.StringType(), True))
            if with_pos:
                fields += [T.StructField("__relfile", T.StringType(), True),
                           T.StructField("__rowidx", T.LongType(), True)]
            return self.spark.createDataFrame([], T.StructType(fields))

        pcols = self._partition_columns()
        partitioned = bool(pcols)
        # Shallow-cloned-in segments live under ANOTHER table's root
        # (rel paths escape ours via ".."): basePath cannot span two
        # roots and substring-from-root cannot produce their rel path,
        # so they get a recorded-metadata strategy instead — partition
        # values from the add-action stats, rel paths from a broadcast
        # file→path map.  Same-root segments keep the zero-overhead
        # basePath/substring fast path.
        def escapes(p: str) -> bool:
            # deep-clone "imported/" landings are same-root but carry no
            # hive dirs — they use the recorded-metadata strategy too
            return (p.startswith(".." + os.sep) or p == ".."
                    or p.startswith("imported" + os.sep))

        def abs_norm(p: str) -> str:
            return os.path.normpath(os.path.join(base_abs, p))

        # The log IS the schema authority (Delta's contract): read with an
        # EXPLICIT requested schema (physical names, declared-at-version
        # types) instead of mergeSchema.  mergeSchema=true launches a
        # footer-reading Spark job over EVERY active file on EVERY
        # snapshot read — O(files) I/O per read, ruinous at 100 TB and a
        # fixed per-read job even at test scale.  The explicit schema
        # needs zero footer reads, and the parquet reader gives the same
        # semantics: missing columns backfill typed NULL (additive
        # evolution / metadata-only ADD COLUMN), narrow pre-ALTER
        # encodings widen in place (type widening), and retired physical
        # columns are simply never read (previously read + dropped).
        requested: T.StructType | None = None
        alias_pairs: list[tuple[str, str]] = []  # (logical, physical)
        if schema_json:
            mapping_v = self._column_mapping(version)
            req_fields: list[T.StructField] = []
            for f in T.StructType.fromJson(json.loads(schema_json)).fields:
                phys = mapping_v.get(f.name, f.name)
                req_fields.append(T.StructField(phys, f.dataType, True))
                if phys != f.name:
                    # a schema-evolution commit writes its NEW column
                    # under the LOGICAL name (the mapping entry lands in
                    # the same commit, after the segment write), while
                    # every later file carries the physical id — request
                    # BOTH and coalesce below, matching what mergeSchema
                    # surfaced
                    req_fields.append(T.StructField(f.name, f.dataType,
                                                    True))
                    alias_pairs.append((f.name, phys))
            requested = T.StructType(req_fields)
            if with_rid:
                # keep the materialized row-id column visible under the
                # explicit requested schema (absent files backfill NULL)
                requested = requested.add(
                    T.StructField("__rid", T.LongType(), True))

        def load(paths: list[str], meta: bool) -> DataFrame:
            local = [p for p in paths if not escapes(p)]
            foreign = [p for p in paths if escapes(p)]
            need_fp = meta or (foreign and partitioned)
            pieces: list[DataFrame] = []
            for group, is_foreign in ((local, False), (foreign, True)):
                if not group:
                    continue
                reader = (self.spark.read.schema(requested)
                          if requested is not None
                          else self.spark.read.option("mergeSchema", "true"))
                if partitioned and not is_foreign:
                    # Hive-layout table: basePath recovers the partition
                    # column(s) for any subset of active files.
                    reader = reader.option("basePath", base_abs)
                df = reader.parquet(*[abs_norm(p) for p in group])
                if need_fp:
                    # materialized HERE: _metadata is a scan-relation
                    # pseudo-column and does not survive union/join.
                    # file:/abs or file:///abs → /abs
                    fp = F.regexp_replace(F.col("_metadata.file_path"),
                                          "^file:/*", "/")
                    df = (df.withColumn("_file", fp)
                          .withColumn("__rowidx",
                                      F.col("_metadata.row_index")))
                if is_foreign and partitioned:
                    # recover partition columns from the recorded
                    # partitionValues (dir-name strings, cast to the
                    # declared schema types) via a broadcast file map
                    schema = T.StructType.fromJson(json.loads(schema_json))
                    types = {f.name: f.dataType for f in schema.fields}
                    rows = []
                    for p in group:
                        pv = (active.get(p) or {}).get("partitionValues", {})
                        rows.append((abs_norm(p),
                                     *[pv.get(c) for c in pcols]))
                    pv_map = self.spark.createDataFrame(
                        rows, T.StructType(
                            [T.StructField("_file", T.StringType())]
                            + [T.StructField(f"__pv_{c}", T.StringType())
                               for c in pcols]))
                    df = df.join(F.broadcast(pv_map), "_file", "left")
                    for c in pcols:
                        df = df.withColumn(
                            c, F.col(f"__pv_{c}").cast(
                                types.get(c, T.StringType()))
                        ).drop(f"__pv_{c}")
                pieces.append(df)
            df = pieces[0]
            for extra in pieces[1:]:
                df = df.unionByName(extra, allowMissingColumns=True)
            if meta:
                if not foreign:
                    df = df.withColumn(
                        "__relfile",
                        F.expr(f"substring(_file, {len(base_abs) + 2})"))
                else:
                    relmap = self.spark.createDataFrame(
                        [(abs_norm(p), p) for p in paths],
                        "_file string, __relfile string")
                    df = df.join(F.broadcast(relmap), "_file", "left")
            elif need_fp:
                df = df.drop("_file", "__rowidx")
            return df

        plain = [p for p in sel if p not in dvs]
        dv_files = [p for p in sel if p in dvs]
        parts: list[DataFrame] = []
        if plain:
            parts.append(load(plain, need_meta))
        if dv_files:
            dv_paths = sorted({d for p in dv_files for d in dvs[p]})
            dv_rows = (self.spark.read
                       .parquet(*[os.path.join(self.path, d)
                                  for d in dv_paths])
                       .select(F.col("path").alias("__dv_path"),
                               F.col("row_index").alias("__dv_rowidx"))
                       .distinct())
            df = load(dv_files, True)
            df = (df.join(
                F.broadcast(dv_rows),
                (F.col("__relfile") == F.col("__dv_path"))
                & (F.col("__rowidx") == F.col("__dv_rowidx")),
                "left_anti"))
            if not need_meta:
                df = df.drop("_file", "__relfile", "__rowidx")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if need_meta:
            drop = []
            if not with_file:
                drop.append("_file")
            if not with_pos:
                drop += ["__relfile", "__rowidx"]
            if drop:
                out = out.drop(*drop)
        for log_n, phys_n in alias_pairs:
            if log_n in out.columns and phys_n in out.columns:
                out = (out.withColumn(
                    phys_n, F.coalesce(F.col(phys_n), F.col(log_n)))
                    .drop(log_n))
        mapping = self._column_mapping(version)
        logical_fields = T.StructType.fromJson(json.loads(schema_json)).fields
        logical_names = {f.name for f in logical_fields}
        # "__rid" is the materialized row-id column layout ops write into
        # rewritten segments (row tracking): invisible to normal reads
        # (the extra-column select below drops it), kept on request.
        keep_extra = {"__rid"} if with_rid else set()
        extra = (set(out.columns) - logical_names
                 - {"_file", "__relfile", "__rowidx"} - keep_extra)
        if mapping or extra or logical_names - set(out.columns):
            # column mapping active, files carry retired/dropped physical
            # columns, or the schema holds a column no file has yet
            # (metadata-only ADD COLUMN): rename physical -> logical,
            # backfill schema-only columns with typed NULLs, then select
            # exactly the logical schema (+ requested meta columns) so
            # renamed columns surface under their current names and
            # dropped data never resurfaces.
            renames = {phys: log for log, phys in mapping.items()
                       if phys in out.columns and phys != log}
            if renames:
                out = out.withColumnsRenamed(renames)
            backfill = {f.name: F.lit(None).cast(f.dataType)
                        for f in logical_fields
                        if f.name not in out.columns}
            if backfill:
                out = out.withColumns(backfill)
            logical = [f.name for f in logical_fields]
            meta_keep = [c for c in ("_file", "__relfile", "__rowidx",
                                     *sorted(keep_extra))
                         if c in out.columns]
            out = out.select(*[c for c in logical if c in out.columns],
                             *meta_keep)
        elif not with_rid and "__rid" in out.columns:
            out = out.drop("__rid")
        return out

    def _commit_ts(self, version: int) -> int:
        """The in-commit timestamp of ``version`` (one file read)."""
        for action in self._read_commit(version):
            if "commit" in action:
                return int(action["commit"]["ts"])
        return -1  # commit action missing (foreign/legacy log): treat as -inf

    def version_at_timestamp(self, ts_millis: int) -> int:
        """Newest version whose commit timestamp <= ``ts_millis`` —
        Delta's ``timestampAsOf`` resolution.  Raises if the table's
        first commit is later than the asked-for time.

        BINARY SEARCH over the commit files: in-commit timestamps are
        strictly monotonic by construction (every commit stamps
        ``max(wall clock, prev ts + 1)``, re-stamped on each OCC retry),
        so resolution costs O(log N) single-file reads instead of an
        O(N) full log replay — on a 100k-commit streaming table that is
        ~17 reads, not 100k."""
        earliest = self._earliest_version()
        if self._commit_ts(earliest) > ts_millis:
            raise ValueError(
                f"no commit at or before timestamp {ts_millis}"
                + ("" if earliest == 0 else
                   f" in the retained log (metadata cleanup removed "
                   f"commits below {earliest})"))
        lo, hi = earliest, self.latest_version()
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self._commit_ts(mid) <= ts_millis:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def read(self, version: int | None = None,
             timestamp: int | None = None) -> DataFrame:
        # mergeSchema: additive schema evolution across commits — an
        # append that introduced a new column surfaces NULL for rows from
        # older segments, exactly like the Delta protocol's read path.
        # Deletion vectors (if any) are applied merge-on-read.
        # ``timestamp`` (epoch millis) is Delta's timestampAsOf.
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        return self._scd2_hide_tombstones(self._read_active(version),
                                          version)

    def _attach_row_ids(self, df: DataFrame,
                        version: int | None = None) -> DataFrame:
        """Add ``_row_id`` to a frame carrying ``__relfile``/``__rowidx``:
        the file's committed ``baseRowId`` + the row's physical position,
        preferring a materialized ``__rid`` column when the segment has
        one (layout-op rewrites).  The file→base map is metadata-sized
        and broadcast."""
        active, _ = self._snapshot(version)
        rows = [(p, (st or {}).get("baseRowId")) for p, st in active.items()]
        bmap = self.spark.createDataFrame(
            rows, "__relfile string, __base long")
        df = df.join(F.broadcast(bmap), "__relfile", "left")
        rid = (F.col("__base") + F.col("__rowidx")).cast("long")
        if "__rid" in df.columns:
            rid = F.coalesce(F.col("__rid").cast("long"), rid)
        return df.withColumn("_row_id", rid)

    def enable_row_tracking(self) -> int:
        """Enable row tracking on an EXISTING table: ONE metadata commit
        re-lists every active file with a freshly stamped ``baseRowId``
        — O(files) driver metadata, zero data moved or rewritten — so
        rows in previously-written segments get stable ids immediately
        (Delta enables the feature the same way: a backfill that
        assigns base ids to existing files).  Outstanding deletion
        vectors keep applying (re-adding a path never clears its DV
        state), and the commit is transparent to streams and CDF like
        OPTIMIZE.  Idempotent: enabling twice is a no-op."""
        if self._row_tracking_enabled():
            return self.latest_version()
        base_version = self.latest_version()
        active, schema_json = self._snapshot()
        adds = [{"add": {"path": p,
                         "stats": dict(s) if s is not None else None}}
                for p, s in active.items()]
        actions = (
            [{"commit": {"op": "SET ROW TRACKING", "ts": self._next_ts(),
                         "filesStamped": len(adds)}},
             {"metaData": {"schemaJson": schema_json,
                           "rowTracking": True}}]
            + adds)
        self._pending_row_tracking = True
        try:
            # The re-listed paths are the conflict set: a concurrent
            # OPTIMIZE/DELETE that removed one of them between the
            # snapshot and the claim must fail this commit (re-adding
            # its segments would resurrect compacted/deleted rows).
            return self._commit_with_occ(actions, list(active),
                                         base_version)
        finally:
            self._pending_row_tracking = False

    def _read_active_tracked(self, only: list[str] | None = None
                             ) -> DataFrame:
        """DV-applied snapshot read that, when row tracking is enabled,
        carries each row's CURRENT id as the physical ``__rid`` column —
        the id-preserving input for every copy-on-write rewrite path
        (rows written back keep their ids; rows a path adds without a
        ``__rid`` read fresh base+position ids, which is exactly the
        fresh-row contract)."""
        if not self._row_tracking_enabled():
            return self._read_active(only=only)
        df = self._read_active(only=only, with_pos=True, with_rid=True)
        return (self._attach_row_ids(df)
                .drop("_file", "__relfile", "__rowidx", "__rid", "__base")
                .withColumnRenamed("_row_id", "__rid"))

    @staticmethod
    def _drop_rid(df: DataFrame) -> DataFrame:
        return df.drop("__rid") if "__rid" in df.columns else df

    def read_with_row_ids(self, version: int | None = None) -> DataFrame:
        """Snapshot read with a stable ``_row_id`` column (Delta row
        tracking): ids are assigned once per row at commit time
        (file ``baseRowId`` + physical position) and PRESERVED through
        every operation that keeps the logical row alive — OPTIMIZE /
        REORG PURGE (layout rewrites materialize them), DV deletes
        (survivor positions are physical), copy-on-write UPDATE/DELETE
        carries, MERGE and APPLY CHANGES updates (the matched target
        row's id rides the upsert), and SCD2 chain closures.  Inserted
        rows get fresh ids; deleted ids burn and never return.  The
        id→row binding is what incremental consumers key on without a
        CDF subscription."""
        if not self._row_tracking_enabled():
            raise ValueError(
                "row tracking is not enabled on this table; create it "
                "with row_tracking=True")
        df = self._read_active(version, with_pos=True, with_rid=True)
        df = self._attach_row_ids(df, version)
        return self._scd2_hide_tombstones(
            df.drop("_file", "__relfile", "__rowidx", "__rid", "__base"),
            version)

    def restore(self, version: int) -> int:
        """Delta RESTORE: roll the table back to ``version`` AS A NEW
        COMMIT — history is never rewritten, so the bad versions stay
        auditable (and time-travelable) while the live snapshot returns
        to the known-good state.  File stats and deletion-vector state
        are restored with the file set.  Committed through OCC: a writer
        that landed after the snapshot we computed from conflicts.

        Limitation (documented, like the pre-CDF MERGE case): a RESTORE
        commit carries no row-level change data, so ``read_changes``
        over a range containing it raises — the restore diff is a
        file-set operation, not a row operation, here."""
        base_version = self.latest_version()
        if version > base_version or version < 0:
            raise ValueError(
                f"restore target {version} out of range [0, {base_version}]")
        target_active, _, target_dvs = self._snapshot_full(version)
        current_active, _, _ = self._snapshot_full()
        dv_adds: dict[str, list[str]] = {}
        for f, dvlist in target_dvs.items():
            for dv in dvlist:
                dv_adds.setdefault(dv, []).append(f)
        actions = (
            [{"commit": {"op": "RESTORE", "ts": self._next_ts(),
                         "restoredVersion": version}}]
            + [{"remove": {"path": p}} for p in current_active]
            + [{"add": {"path": p, "stats": s}}
               for p, s in target_active.items()]
            + [{"dvAdd": {"path": dv, "targets": targets}}
               for dv, targets in dv_adds.items()]
        )
        return self._commit_with_occ(actions, list(current_active),
                                     base_version)

    @staticmethod
    def _deep_rel(p: str) -> str:
        """Destination-relative path for a source segment under DEEP
        CLONE.  Segments inside the source root keep their relative
        layout verbatim (so a partitioned table's hive dirs — and the
        basePath fast read path — survive the copy, and incremental
        refresh can diff by path).  Segments that ESCAPE the source root
        (the source was itself a shallow clone) land under ``imported/``
        with a DETERMINISTIC content-address-style name — deterministic
        so a later ``clone_refresh`` recognizes already-copied files."""
        if not (p.startswith(".." + os.sep) or p == ".."):
            return p
        digest = hashlib.md5(os.path.normpath(p).encode()).hexdigest()[:16]
        return os.path.join("imported", f"seg-{digest}.parquet")

    def _copy_files_distributed(self, pairs: list[tuple[str, str]]) -> None:
        """Byte-copy (src_abs, dst_abs) data files on the EXECUTORS: the
        driver touches only the metadata-scale directory set; segment
        bytes never funnel through the driver, so a DEEP CLONE of a
        100 TB table parallelizes across the cluster (on shared storage
        — object store / DBFS — exactly like real Delta's deep clone)."""
        if not pairs:
            return
        for d in sorted({os.path.dirname(t) for _, t in pairs}):
            os.makedirs(d, exist_ok=True)
        sc = self.spark.sparkContext
        sc.parallelize(pairs, min(len(pairs), 64)).foreach(
            lambda st: shutil.copyfile(st[0], st[1]))

    def clone_to(self, dest_path: str,
                 version: int | None = None,
                 mode: str = "shallow") -> "TxLogTable":
        """SHALLOW CLONE (Delta's zero-copy clone): create a NEW table at
        ``dest_path`` whose commit 0 references the source snapshot's
        segments BY PATH — no data is copied, so cloning a 100 TB table
        is an O(file-count) metadata write.  The clone then evolves
        independently: its appends/merges write segments under its own
        root, a merge that rewrites a shared segment de-lists the
        source-relative path from the CLONE's log only, and the source
        table never observes any of it.  The clone's VACUUM walks only
        its own data dirs, so shared source segments are never collected
        from the clone side (pinned in tests/test_txlog.py).

        Partitioned sources clone too: the add actions carry the source
        snapshot's partitionValues in their stats, and the read path
        recovers partition columns for cloned-in segments from that
        recorded metadata (basePath cannot span two roots).  Snapshots
        with outstanding deletion vectors clone by REWRITING THE
        SIDECARS ONLY — DV row positions address table-root-relative
        data paths, so each sidecar (O(tombstones), metadata-scale) is
        re-keyed into the clone's coordinate space; the data segments
        themselves are still never copied.

        Caveat (same as real Delta's shallow clone): the SOURCE table
        does not know its clones exist, so a source-side VACUUM after a
        source rewrite can collect segments a clone still references —
        the clone then fails on ghost files.  Operationally: align the
        source's VACUUM retention with clone lifetimes (or deep-copy);
        forensically: ``FSCK REPAIR TABLE`` on the clone restores
        readability by de-listing the ghosts (lossy, by definition —
        pinned in tests).

        ``mode="deep"`` is DEEP CLONE: segment bytes are copied into the
        clone's own root (executor-side, never through the driver), so
        the clone is fully independent — a source rewrite + VACUUM can
        never ghost it.  Copied segments keep the source's RELATIVE
        layout (hive partition dirs included) and the add actions carry
        the same footer stats, so data skipping and partition pruning
        work unchanged on the clone.  Deep clones support INCREMENTAL
        ``clone_refresh()``: re-sync copies only the segments (and DV
        sidecars) the source added since the recorded sourceVersion."""
        if mode not in ("shallow", "deep"):
            raise ValueError(f"clone mode must be shallow|deep, got {mode!r}")
        active, schema_json, dvs = self._snapshot_full(version)
        dest = TxLogTable(self.spark, dest_path,
                          checkpoint_interval=self.checkpoint_interval,
                          enable_cdf=self.enable_cdf)
        if os.path.exists(dest.log_dir):
            raise FileExistsError(f"txlog table already exists at {dest_path}")
        os.makedirs(dest_path, exist_ok=True)
        src_abs = os.path.abspath(self.path)
        dst_abs = os.path.abspath(dest_path)

        def rekey(p: str) -> str:
            return os.path.relpath(
                os.path.normpath(os.path.join(src_abs, p)), dst_abs)

        mapfn = rekey if mode == "shallow" else self._deep_rel
        src_version = self.latest_version() if version is None else version
        if mode == "deep":
            self._copy_files_distributed(
                [(os.path.normpath(os.path.join(src_abs, p)),
                  os.path.join(dst_abs, self._deep_rel(p)))
                 for p in active])
        # carry the FULL metadata state at the cloned version — every
        # last-writer-wins meta key (partitioning, mapping, generated/
        # bloom/identity/default/clustering columns, properties, type
        # widening, row tracking) — plus the identity and row-id
        # high-water marks as their own actions (they fold separately),
        # so the clone's future writes continue allocation where the
        # source left off instead of colliding with carried ids.
        src_meta = self._meta_state(src_version)
        clone_meta: dict = {"schemaJson": schema_json}
        for k in self._META_KEYS:
            if src_meta.get(k):
                clone_meta[k] = src_meta[k]
        hw_actions: list[dict] = []
        for c, h in src_meta.get("identityHighWater", {}).items():
            hw_actions.append(
                {"identity": {"column": c, "highWater": int(h)}})
        if src_meta.get("rowIdHighWater"):
            hw_actions.append(
                {"rowid": {"highWater": int(src_meta["rowIdHighWater"])}})
        dv_actions: list[dict] = []
        sidecars = sorted({s for ss in dvs.values() for s in ss})
        if sidecars:
            import pyarrow as pa
            import pyarrow.parquet as pq
            os.makedirs(os.path.join(dst_abs, "_deletion_vectors"),
                        exist_ok=True)
            for s in sidecars:
                src_sidecar = os.path.join(src_abs, s)
                if os.path.isdir(src_sidecar):
                    pieces = sorted(
                        glob.glob(os.path.join(src_sidecar, "*.parquet")))
                    tbl = pa.concat_tables(
                        [pq.read_table(f) for f in pieces])
                else:
                    tbl = pq.read_table(src_sidecar)
                idx = tbl.schema.get_field_index("path")
                tbl = tbl.set_column(
                    idx, "path",
                    pa.array([mapfn(p)
                              for p in tbl.column("path").to_pylist()]))
                # deep clones name rewritten sidecars DETERMINISTICALLY
                # from the source sidecar path, so clone_refresh can tell
                # already-synced sidecars from new ones by name alone
                tag = (uuid.uuid4().hex[:12] if mode == "shallow" else
                       hashlib.md5(os.path.normpath(s).encode())
                       .hexdigest()[:16])
                new_rel = os.path.join(
                    "_deletion_vectors", f"dv-clone-{tag}.parquet")
                pq.write_table(tbl, os.path.join(dst_abs, new_rel))
                targets = [mapfn(d) for d, ss in dvs.items() if s in ss]
                dv_actions.append(
                    {"dvAdd": {"path": new_rel, "targets": targets}})
        actions = (
            [{"commit": {"op": "CLONE", "ts": dest._next_ts(),
                         "mode": mode,
                         "sourcePath": src_abs,
                         "sourceVersion": src_version}},
             {"protocol": self.protocol(src_version)},
             {"metaData": clone_meta}]
            + hw_actions
            + [{"add": {"path": mapfn(p), "stats": s}}
               for p, s in active.items()]
            + dv_actions
        )
        if not dest._try_commit(0, actions):
            raise FileExistsError(f"concurrent create at {dest_path}")
        dest._maybe_crc(0, actions)
        return dest

    def clone_refresh(self) -> int:
        """INCREMENTAL DEEP CLONE sync (Databricks' re-run of
        ``CREATE OR REPLACE TABLE dst DEEP CLONE src``): fast-forward
        THIS table — which must be a pristine deep clone (its history is
        exactly one CLONE mode=deep commit plus prior CLONE_REFRESHes;
        any local write makes the diff ill-defined and refuses) — to the
        source's current snapshot.  Cost is proportional to the CHANGE:
        only segments (and DV sidecars) new in the source since the
        recorded sourceVersion are copied (executor-side); segments the
        source de-listed are removed from the clone's log (the local
        copies become vacuum-collectible).  Schema evolution, metadata
        changes, protocol bumps, and identity/row-id high-water advances
        ride the same commit.  No-op (no commit) when the source hasn't
        moved.  Returns the clone's latest version."""
        hist = self.history()
        if (not hist or hist[0].get("op") != "CLONE"
                or hist[0].get("mode") != "deep"):
            raise ValueError("clone_refresh: table is not a deep clone")
        if any(h.get("op") != "CLONE_REFRESH" for h in hist[1:]):
            raise ValueError(
                "clone_refresh: clone has diverged (local writes after "
                "CLONE); refresh would clobber them — re-clone instead")
        src_abs = hist[0]["sourcePath"]
        last_synced = int(hist[-1]["sourceVersion"])
        source = TxLogTable(self.spark, src_abs,
                            checkpoint_interval=self.checkpoint_interval,
                            enable_cdf=self.enable_cdf)
        src_version = source.latest_version()
        if src_version == last_synced:
            return self.latest_version()
        dst_abs = os.path.abspath(self.path)
        base = self.latest_version()
        src_active, schema_json, src_dvs = source._snapshot_full()
        dest_active, _, dest_dvs = self._snapshot_full()
        desired = {self._deep_rel(p): (p, s) for p, s in src_active.items()}
        new_rels = [r for r in desired if r not in dest_active]
        gone = [p for p in dest_active if p not in desired]
        self._copy_files_distributed(
            [(os.path.normpath(os.path.join(src_abs, desired[r][0])),
              os.path.join(dst_abs, r)) for r in new_rels])
        # DV delta: deep-clone sidecar names are deterministic in the
        # SOURCE sidecar path, so "already synced" is a name test.  Per
        # file, DV sets only grow until the file is removed (REORG/
        # OPTIMIZE rewrite it under a new path), so the delta is purely
        # additive here; removed files retire their DVs in the fold.
        have_sidecars = {s for ss in dest_dvs.values() for s in ss}
        dv_actions: list[dict] = []
        src_sidecars = sorted({s for ss in src_dvs.values() for s in ss})
        todo = []
        for s in src_sidecars:
            tag = hashlib.md5(os.path.normpath(s).encode()).hexdigest()[:16]
            new_rel = os.path.join("_deletion_vectors",
                                   f"dv-clone-{tag}.parquet")
            if new_rel not in have_sidecars:
                todo.append((s, new_rel))
        if todo:
            import pyarrow as pa
            import pyarrow.parquet as pq
            os.makedirs(os.path.join(dst_abs, "_deletion_vectors"),
                        exist_ok=True)
            for s, new_rel in todo:
                src_sidecar = os.path.join(src_abs, s)
                if os.path.isdir(src_sidecar):
                    pieces = sorted(
                        glob.glob(os.path.join(src_sidecar, "*.parquet")))
                    tbl = pa.concat_tables(
                        [pq.read_table(f) for f in pieces])
                else:
                    tbl = pq.read_table(src_sidecar)
                idx = tbl.schema.get_field_index("path")
                tbl = tbl.set_column(
                    idx, "path",
                    pa.array([self._deep_rel(p)
                              for p in tbl.column("path").to_pylist()]))
                pq.write_table(tbl, os.path.join(dst_abs, new_rel))
                targets = [self._deep_rel(d)
                           for d, ss in src_dvs.items() if s in ss]
                dv_actions.append(
                    {"dvAdd": {"path": new_rel, "targets": targets}})
        src_meta = source._meta_state()
        clone_meta: dict = {"schemaJson": schema_json}
        for k in self._META_KEYS:
            if src_meta.get(k):
                clone_meta[k] = src_meta[k]
        hw_actions: list[dict] = []
        for c, h in src_meta.get("identityHighWater", {}).items():
            hw_actions.append(
                {"identity": {"column": c, "highWater": int(h)}})
        if src_meta.get("rowIdHighWater"):
            hw_actions.append(
                {"rowid": {"highWater": int(src_meta["rowIdHighWater"])}})
        actions = (
            [{"commit": {"op": "CLONE_REFRESH", "ts": self._next_ts(),
                         "mode": "deep", "sourcePath": src_abs,
                         "sourceVersion": src_version}},
             {"protocol": source.protocol()},
             {"metaData": clone_meta}]
            + hw_actions
            + [{"add": {"path": r, "stats": desired[r][1]}}
               for r in new_rels]
            + [{"remove": {"path": p}} for p in gone]
            + dv_actions
        )
        if not self._try_commit(base + 1, actions):
            raise RuntimeError(
                "clone_refresh lost a commit race (concurrent write on "
                "the clone); re-run against the fresh state")
        self._maybe_crc(base + 1, actions)
        self._maybe_uniform()
        return base + 1

    # -- data skipping (Delta's file-statistics pruning) --------------------

    @staticmethod
    def _coerce_probe_literal(value, dtype):
        """Coerce a STRING probe literal against a date/timestamp column
        to the footer-stat textual domain (isoformat, 'T' separator) —
        SQL-surface literals arrive as text, and a raw
        ``'YYYY-MM-DD HH:MM:SS'`` (space) compares wrongly against
        ``_stat_value``'s ISO strings (same inversion ADVICE r14 flagged
        for ``_json_key``).  Also gives date-only literals against
        timestamp columns SQL's cast-to-midnight semantics.  Anything
        unparseable is left alone — incomparable probes keep the file
        (conservative)."""
        if not isinstance(value, str):
            return value
        try:
            if isinstance(dtype, T.TimestampType):
                return datetime.datetime.fromisoformat(
                    value.replace(" ", "T")).isoformat()
            if isinstance(dtype, T.DateType):
                return datetime.datetime.fromisoformat(
                    value.replace(" ", "T")).date().isoformat()
        except ValueError:
            pass
        return value

    def prune_files(self, predicates: list[tuple],
                    version: int | None = None) -> tuple[list[str], int]:
        """File-level data skipping: keep only the active files whose
        footer min/max stats could satisfy EVERY ``(column, op, value)``
        predicate (op ∈ =, <, <=, >, >=, between).  Returns (absolute
        kept files, total active file count).  Purely driver-side
        metadata — no data is read; a file without usable stats is kept
        (conservative).  At 100 TB this is the difference between
        scanning the table and scanning the handful of segments a
        time/key-range query actually touches."""
        active, schema_json = self._snapshot(version)
        mapping = self._column_mapping(version)
        types = ({f.name: f.dataType
                  for f in T.StructType.fromJson(
                      json.loads(schema_json)).fields}
                 if schema_json else {})
        coerced = []
        for c, op, v in predicates:
            dt = types.get(c)
            if dt is not None:
                v = (tuple(self._coerce_probe_literal(x, dt) for x in v)
                     if op == "between"
                     else self._coerce_probe_literal(v, dt))
            coerced.append((c, op, v))
        kept = [
            os.path.join(self.path, p) for p, stats in active.items()
            if all(_file_may_match(stats, mapping.get(c, c), op, v)
                   for (c, op, v) in coerced)
        ]
        return kept, len(active)

    def read_where(self, predicates: list[tuple],
                   version: int | None = None) -> DataFrame:
        """Snapshot read with data skipping + the residual row filter.
        The residual filter is still applied (file stats only prove
        which files CANNOT match), so the result is exactly
        ``read(version).filter(...)`` — just without opening pruned
        files."""
        kept, _ = self.prune_files(predicates, version)
        _, schema_json = self._snapshot(version)
        residual = None
        for c, op, v in predicates:
            col = F.col(c)
            if op == "=":
                cond = col == v
            elif op == "<":
                cond = col < v
            elif op == "<=":
                cond = col <= v
            elif op == ">":
                cond = col > v
            elif op == ">=":
                cond = col >= v
            elif op == "between":
                cond = col.between(v[0], v[1])
            else:
                raise ValueError(f"unsupported predicate op: {op!r}")
            residual = cond if residual is None else (residual & cond)
        if not kept:
            schema = T.StructType.fromJson(json.loads(schema_json))
            return self.spark.createDataFrame([], schema)
        df = self._read_active(version, only=kept)
        return df.filter(residual) if residual is not None else df

    @staticmethod
    def _key_list(key) -> list[str]:
        """Normalize a merge/CDC key spec: one column name or a list of
        them (composite keys — TPC-H lineitem's (l_orderkey,
        l_linenumber) shape)."""
        return [key] if isinstance(key, str) else list(key)

    def _key_range_stats(self, df: DataFrame, keys: list[str],
                         what: str) -> list[dict]:
        """One aggregate over the batch: duplicate-key refusal (count vs
        distinct over the composite) + per-column min/max ranges for the
        commit's OCC record.  Returns ``(keyRanges, had_null_keys)`` —
        the NULL flag rides the same aggregate at zero extra job cost
        and guards probe pruning for NULL-safe-matching callers."""
        aggs = [F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct(*[F.col(k) for k in keys]))
                .alias("nd")]
        for k in keys:
            aggs += [F.min(k).alias(f"mn_{k}"), F.max(k).alias(f"mx_{k}"),
                     F.count(k).alias(f"nn_{k}")]
        stats = df.agg(*aggs).collect()[0]
        if stats["n"] != stats["nd"]:
            raise ValueError(
                f"{what} source has duplicate keys on {keys!r}: "
                f"{stats['n']} rows but {stats['nd']} distinct keys — "
                "like Delta MERGE with multiple source matches, this is "
                "ambiguous; de-duplicate the updates first")
        had_nulls = any(int(stats[f"nn_{k}"] or 0) != int(stats["n"] or 0)
                        for k in keys)
        return ([{"column": k, "min": _json_key(stats[f"mn_{k}"]),
                  "max": _json_key(stats[f"mx_{k}"])} for k in keys],
                had_nulls)

    def _key_probe_candidates(self, ranges: list[dict],
                              version: int | None = None
                              ) -> list[str] | None:
        """Data skipping for a MERGE/CDC key-equality probe (Delta's
        trick): only files whose footer stats could hold a key inside
        the batch's per-column [min, max] can contain a match, so the
        touched-segment probe scans just those.  Returns absolute
        candidate paths, or None when pruning proves nothing (a bound is
        NULL — e.g. an all-NULL or empty batch).  SOUND ONLY for
        NULL-rejecting equality probes: a NULL key never equals anything,
        so rows outside the non-NULL bounds cannot match; NULL-SAFE
        callers (merge_full) must also prove the batch carries no NULL
        keys.  Files without stats are always kept (conservative)."""
        preds = []
        for r in ranges:
            if r.get("min") is None or r.get("max") is None:
                return None
            preds.append((r["column"], "between", (r["min"], r["max"])))
        kept, _ = self.prune_files(preds, version)
        return kept

    @staticmethod
    def _key_range_commit(key_ranges: list[dict]) -> dict:
        """Commit-record fragment for the OCC key range(s): single-key
        commits keep the original ``keyRange`` field; composite keys
        record ``keyRanges`` (one per column — conflict detection is
        per-column and conservative: overlap on any shared column reads
        as a conflict)."""
        return ({"keyRange": key_ranges[0]} if len(key_ranges) == 1
                else {"keyRanges": key_ranges})

    @contextlib.contextmanager
    def _pinned(self):
        """Statement-scoped caching: yields ``pin(frame)``, which
        persists a frame that is not cached yet and returns it.  Every
        frame pinned through it — the statement's working sets and the
        identity write sets ``_assign_identity`` persists — is released
        on EVERY exit, so a refused or failed write leaves no cached
        frame behind."""
        with contextlib.ExitStack() as stack:
            def pin(frame: DataFrame) -> DataFrame:
                if not frame.is_cached:
                    frame = frame.persist()
                    stack.callback(frame.unpersist)
                return frame
            yield pin

    @staticmethod
    def _touched_files(frame: DataFrame) -> list[str]:
        """The segments a copy-on-write statement rewrites: sorted
        distinct ``_file`` of the probe ``frame``, in one collect."""
        return sorted(r["_file"] for r in
                      frame.select("_file").distinct().collect())

    def _replace_keys(self, touched: list[str], keys: list[str],
                      key_frame: DataFrame, rows: DataFrame) -> DataFrame:
        """Keyed-replace rewrite (MERGE upsert, APPLY CHANGES): the
        touched segments' rows whose key is NOT in ``key_frame``, plus
        ``rows``.  Under row tracking a replacing row keeps the matched
        target row's id (same logical row); rows of new keys carry a
        NULL ``__rid`` and read fresh base+position ids."""
        if not touched:
            return rows
        seg = self._read_active_tracked(only=touched)
        if self._row_tracking_enabled():
            idmap = (seg.join(F.broadcast(key_frame), keys, "left_semi")
                     .select(*keys, "__rid"))
            rows = rows.join(F.broadcast(idmap), keys, "left")
        # allowMissingColumns: rewriting a pre-evolution segment must
        # not drop (or trip over) columns added later.
        return (seg.join(F.broadcast(key_frame), keys, "left_anti")
                .unionByName(rows, allowMissingColumns=True))

    def _update_images(self, assignments: dict, columns: list):
        """UPDATE's post-image builder, shared by both strategies: turns
        ``assignments`` into expressions, runs the shared guards, and
        returns ``post(frame, hit=None)`` — the assignments followed by
        the generated-column recompute (so an UPDATE of a dependency
        never leaves a stale derived value), applied to every row, or
        only where the boolean column ``hit`` is TRUE."""
        exprs = {c: (F.expr(e) if isinstance(e, str) else e)
                 for c, e in assignments.items()}
        self._check_update_assignments(exprs, columns)
        gen = {name: F.expr(expr)
               for name, expr in self._generated_columns().items()}

        def post(frame: DataFrame, hit=None) -> DataFrame:
            for step in (exprs, gen):
                if step:
                    frame = frame.withColumns(
                        step if hit is None else
                        {c: F.when(hit, e).otherwise(F.col(c))
                         for c, e in step.items()})
            return frame
        return post

    def merge_upsert(self, updates: DataFrame, key) -> int:
        """Copy-on-write MERGE (upsert): rows of ``updates`` replace
        same-key rows; unmatched update rows are inserted.  ``key``:
        one column name or a list (composite key).

        Only segments that contain at least one matched key are rewritten:
        a semi-join of the snapshot against the update keys (broadcast —
        the update batch is the small side by assumption) yields the
        touched file list; every other segment survives by reference.

        Like Delta MERGE, raises if ``updates`` carries duplicate keys
        (two source rows matching one target row is ambiguous), and
        records the touched key range in the commit so concurrent
        overlapping MERGEs are detected as conflicts (see
        ``_commit_with_occ``) instead of silently duplicating keys.

        v1 scope: refused on tables with GENERATED ALWAYS identity
        columns (the insert arm would need engine-assigned ids while
        the update arm carries existing ones — Delta has the same
        whole-row-MERGE restriction; use append + update instead).
        GENERATED BY DEFAULT identity composes: the source carries the
        ids (required), and NULL slots are engine-assigned past the
        high-water mark.
        """
        self._check_append_only("MERGE")
        ident = self._identity_columns()
        if any(s.get("always", True) for s in ident.values()):
            raise ValueError(
                "MERGE into a table with GENERATED ALWAYS IDENTITY "
                "columns is not supported (engine-assigned ids cannot "
                "ride a whole-row upsert); append new rows and update "
                "existing ones instead")
        if ident:
            missing_ident = [c for c in ident if c not in updates.columns]
            if missing_ident:
                raise ValueError(
                    "MERGE source must carry the BY DEFAULT identity "
                    f"column(s) {missing_ident} (use NULL for "
                    "engine-assigned slots)")
        base_version = self.latest_version()
        files, _ = self._snapshot_files()
        keys = self._key_list(key)
        missing_keys = [k for k in keys if k not in updates.columns]
        if missing_keys:
            raise ValueError(f"MERGE source lacks key column(s) "
                             f"{missing_keys}")
        # The update batch is the small side by MERGE's nature (it is
        # broadcast below) but often an expensive plan (CDC/fold output);
        # this statement evaluates it repeatedly (key-range stats, the
        # touched-file semi-join, the rewrite union, CDF images).
        # Persist for the statement's duration — bounded by the broadcast
        # bound, so scale-safe.
        with self._pinned() as pin:
            updates = pin(updates)
            ranges, _ = self._key_range_stats(updates, keys, "MERGE")
            # CHECK constraints gate the incoming rows only — carried-over
            # segment rows already passed at their own write time.
            updates = self._apply_generated(updates)
            updates, ident_actions = self._assign_identity(updates, pin)
            self._validate_constraints(updates)
            upd_keys = updates.select(*keys).distinct()
            touched: list[str] = []
            if files:
                # DV-applied base: rows already deleted by a deletion
                # vector must neither match (touch a file) nor survive a
                # rewrite.  The probe scans only the files whose footer
                # stats could hold a batch key (data skipping — the
                # plain-equality join rejects NULL keys, so the non-NULL
                # [min, max] prune is sound; guide §6).
                cand = self._key_probe_candidates(ranges)
                touched = self._touched_files(
                    self._read_active(with_file=True, only=cand)
                    .join(F.broadcast(upd_keys), keys, "left_semi"))

            def changes() -> DataFrame:
                # Change rows are computed from the TOUCHED segments only
                # — the same bounded working set the merge itself
                # rewrites.
                ct = F.lit("insert")
                if not touched:
                    return updates.withColumn("_change_type", ct)
                pre = (self._read_active(only=touched)
                       .join(F.broadcast(upd_keys), keys, "left_semi"))
                matched_keys = pre.select(*keys).distinct()
                post = updates.join(F.broadcast(matched_keys), keys,
                                    "left_semi")
                ins = updates.join(F.broadcast(matched_keys), keys,
                                   "left_anti")
                return (
                    pre.withColumn("_change_type", F.lit("update_preimage"))
                    .unionByName(
                        post.withColumn("_change_type",
                                        F.lit("update_postimage")),
                        allowMissingColumns=True)
                    .unionByName(ins.withColumn("_change_type", ct),
                                 allowMissingColumns=True))

            return self._commit_rewrite(
                "MERGE", base_version, touched,
                self._replace_keys(touched, keys, upd_keys, updates),
                changes, key_ranges=ranges,
                actions=ident_actions
                + self._schema_evolution_action(updates))

    def merge_full(self, source: DataFrame, key,
                   when_matched: list[dict] | tuple = (),
                   when_not_matched: list[dict] | tuple = (),
                   when_not_matched_by_source: list[dict] | tuple = (),
                   schema_evolution: bool = False,
                   txn_app_id: str | None = None,
                   txn_version: int | None = None) -> int:
        """Full-clause MERGE (Delta's three-arm statement): ordered
        WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE clauses,
        WHEN NOT MATCHED [AND cond] THEN INSERT clauses, and
        WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE
        clauses, evaluated per row with first-matching-clause-wins
        semantics.  ``merge_upsert`` stays as the fast path for the
        plain upsert shape.

        Clause dicts:

        - matched:   ``{"action": "update"|"delete", "condition": sql?,
          "set": {col: sql} | "*"}``
        - not matched: ``{"action": "insert", "condition": sql?,
          "values": {col: sql} | "*"}``
        - not matched by source: same as matched (conditions may only
          see the target row — source fields read NULL there).

        Condition / SET / VALUES expressions are SQL strings over two
        struct columns: ``t.<col>`` (target row) and ``s.<col>``
        (source row; NULL structs on the by-source arm) — the same
        aliasing surface Delta's SQL MERGE exposes.

        Key matching is NULL-SAFE (``<=>`` semantics): a NULL key value
        on both sides is a match — the contract an incremental
        materialized-view fold grouping by a nullable column needs
        (null-unsafe matching would re-insert the NULL-key group every
        refresh).  Keys are compared as a packed struct, so all arms —
        matched, not-matched, by-source — agree.

        Physical shape at 100 TB: the source is broadcast (small side
        by MERGE's nature), ONE pass over the snapshot decides each
        row's clause, and only segments containing at least one row
        whose clause CHANGES it (update/delete on either arm) are
        rewritten — a matched row whose conditions all fail leaves its
        segment untouched.  A by-source clause with a broad condition
        legitimately touches every segment holding such rows; that cost
        is inherent to the semantics, not the plan.  The OCC surface is
        the one every copy-on-write statement shares: ``_touched_files``
        probes the segments to rewrite, and ``_commit_rewrite`` writes
        them, writes the CDF rows (insert/delete/update pre+post images
        per arm) and commits with the key range recorded and the
        removed files conflict-checked; ``_pinned`` scopes the cached
        source and insert arm to the statement.

        ``schema_evolution=True`` (Delta's ``WITH SCHEMA EVOLUTION``):
        source columns absent from the target evolve the table schema
        — appended nullable, one metaData action in the SAME commit,
        exactly append's evolution path (same retired-name and
        vacated-physical-name refusals, fresh physical ids in id
        mapping mode).  Existing rows read typed NULL in the new
        columns; ``SET *`` / ``INSERT *`` and explicit SET/VALUES may
        then bind them.  Default (False) keeps Delta's strict posture:
        extra source columns are ignored on star actions and explicit
        references to unknown columns raise.

        IDENTITY: GENERATED ALWAYS tables refuse (per-arm
        engine-assignment of a whole-row statement is ambiguous —
        ``merge_upsert``'s posture); GENERATED BY DEFAULT composes —
        insert-arm rows with NULL/absent identity slots are
        engine-assigned past the high-water mark, update arms must not
        SET an identity column.

        ``txn_app_id``/``txn_version``: the append-path idempotence
        contract on a MERGE — an equal-or-lower version for the app is
        a no-op, so a restarted incremental-refresh job that replays
        its last fold cannot double-apply it."""
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version go together")
        if txn_app_id is not None and \
                self.txn_version_for(txn_app_id) >= txn_version:
            return self.latest_version()  # replayed fold: already applied
        self._check_append_only("MERGE")
        ident = self._identity_columns()
        if any(s.get("always", True) for s in ident.values()):
            raise ValueError(
                "full-clause MERGE into a table with GENERATED ALWAYS "
                "IDENTITY columns is not supported (engine-assigned ids "
                "cannot ride a whole-row statement); use GENERATED BY "
                "DEFAULT, or append + update")
        when_matched = list(when_matched)
        when_not_matched = list(when_not_matched)
        when_not_matched_by_source = list(when_not_matched_by_source)
        if not (when_matched or when_not_matched
                or when_not_matched_by_source):
            raise ValueError("MERGE needs at least one WHEN clause")
        for cl in when_matched + when_not_matched_by_source:
            if cl.get("action") not in ("update", "delete"):
                raise ValueError(f"bad matched/by-source clause: {cl!r}")
        for cl in when_not_matched:
            if cl.get("action") != "insert":
                raise ValueError(f"bad NOT MATCHED clause: {cl!r}")
        keys = self._key_list(key)
        missing_keys = [k for k in keys if k not in source.columns]
        if missing_keys:
            raise ValueError(
                f"MERGE source lacks key column(s) {missing_keys}")
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        evo_actions: list[dict] = []
        new_fields: list[T.StructField] = []
        if schema_evolution:
            # same guards + metaData shape as append's evolution path
            evo_actions = self._schema_evolution_action(source)
            have = {f.name for f in schema.fields}
            new_fields = [T.StructField(f.name, f.dataType, True)
                          for f in source.schema.fields
                          if f.name not in have and f.name != "__rid"]
            schema = T.StructType(list(schema.fields) + new_fields)
        tcols = [f.name for f in schema.fields]
        # A MERGE source is the small side by contract (it is broadcast
        # into every pass below).  It is also frequently an EXPENSIVE
        # plan — an incremental-MV/CDC fold of CDF reads, joins and
        # aggregations — and this statement evaluates it several times
        # (key-range stats, decision join, insert anti-join, segment
        # write, CDF write).  Persist it for the statement's duration so
        # the fold runs once; bounded by the broadcast bound, so this is
        # scale-safe (guide §5: reuse × recompute-cost).
        with self._pinned() as pin:
            source = pin(source)
            ranges, had_null_keys = self._key_range_stats(
                source, keys, "MERGE")

            def clause_cond(cl) -> "F.Column":
                c = cl.get("condition")
                return F.expr(c) if c else F.lit(True)

            # one decision pass: every target row gets the code of its first
            # applicable clause (matched codes 0..n-1; by-source 100+j;
            # -1 = carry unchanged).  A by-source condition referencing s.*
            # evaluates NULL there and correctly never fires.
            src_struct = source.select(
                F.struct(*[F.col(k) for k in keys]).alias("_mk"),
                F.struct(*[F.col(c) for c in source.columns]).alias("s"),
                F.lit(True).alias("_m"))

            def read_base(only: list[str] | None) -> DataFrame:
                if self._row_tracking_enabled():
                    # carried AND updated rows keep their row ids through the
                    # rewrite; insert-arm rows read fresh base+position ids
                    b = self._read_active(with_file=True, with_pos=True,
                                          with_rid=True, only=only)
                    b = (self._attach_row_ids(b)
                         .drop("__relfile", "__rowidx", "__rid", "__base")
                         .withColumnRenamed("_row_id", "__rid"))
                else:
                    b = self._read_active(with_file=True, only=only)
                if new_fields:
                    # evolved columns read typed NULL on every pre-evolution
                    # row
                    b = b.withColumns({f.name: F.lit(None).cast(f.dataType)
                                       for f in new_fields})
                return b

            act = None
            for i, cl in enumerate(when_matched):
                c = F.col("_m").isNotNull() & clause_cond(cl)
                act = F.when(c, i) if act is None else act.when(c, i)
            for j, cl in enumerate(when_not_matched_by_source):
                c = F.col("_m").isNull() & clause_cond(cl)
                act = F.when(c, 100 + j) if act is None else act.when(c, 100 + j)

            def decide(b: DataFrame) -> DataFrame:
                tsel = [F.col("_file"),
                        F.struct(*[F.col(k) for k in keys]).alias("_mk"),
                        F.struct(*[F.col(c) for c in tcols]).alias("t")]
                if "__rid" in b.columns:
                    tsel.append(F.col("__rid"))
                joined = (b.select(*tsel)
                          .join(F.broadcast(src_struct), "_mk", "left_outer"))
                return joined.withColumn(
                    "_act", act.otherwise(F.lit(-1)) if act is not None
                    else F.lit(-1))

            # Data skipping for the decision pass (guide §6): with no
            # by-source arm, a clause can only fire on rows MATCHING a
            # source key, so only files whose footer stats could hold a
            # batch key participate — sound for the NULL-SAFE struct match
            # only when the batch provably carries no NULL keys (a NULL key
            # must match NULL base keys, which min/max stats cannot place).
            # The same pruned base serves the insert arm's matched-keys
            # probe (matches live in candidate files by the same argument).
            cand = (self._key_probe_candidates(ranges)
                    if not when_not_matched_by_source and not had_null_keys
                    else None)
            base = read_base(cand)
            touched = self._touched_files(
                decide(base).filter(F.col("_act") != -1))
            # Every pass below that looks at rows whose clause fired re-reads
            # ONLY the touched segments (the merge's bounded working set)
            # instead of filtering a full-snapshot scan — the rewrite, the
            # constraint check and the CDF images each cost O(touched), not
            # O(table).
            decided_t = decide(read_base(touched)) if touched else None

            del_codes = (
                [i for i, cl in enumerate(when_matched)
                 if cl["action"] == "delete"]
                + [100 + j for j, cl in enumerate(when_not_matched_by_source)
                   if cl["action"] == "delete"])
            upd_specs = {i: cl for i, cl in enumerate(when_matched)
                         if cl["action"] == "update"}
            upd_specs.update(
                {100 + j: cl for j, cl in enumerate(when_not_matched_by_source)
                 if cl["action"] == "update"})
            for code, cl in upd_specs.items():
                st = cl.get("set", "*")
                if st != "*":
                    bad = [c for c in st if c not in tcols]
                    if bad:
                        raise ValueError(
                            f"MERGE SET references unknown column(s) {bad}")
                    bad_ident = sorted(set(st) & set(ident))
                    if bad_ident:
                        raise ValueError(
                            f"MERGE SET of identity column(s) {bad_ident}: "
                            "identity values are engine-managed and never "
                            "updated")

            def out_projection(frame: DataFrame) -> DataFrame:
                cols = []
                for f in schema.fields:
                    tval = F.col("t").getField(f.name)
                    e = None
                    for code, cl in upd_specs.items():
                        st = cl.get("set", "*")
                        if st == "*":
                            # identity values are engine-managed: SET * keeps
                            # the matched target row's id, never the source's
                            v = (F.col("s").getField(f.name)
                                 if f.name in source.columns
                                 and f.name not in ident else tval)
                        elif f.name in st:
                            v = F.expr(st[f.name]).cast(f.dataType)
                        else:
                            v = tval
                        hit = F.col("_act") == code
                        e = F.when(hit, v) if e is None else e.when(hit, v)
                    cols.append((e.otherwise(tval) if e is not None
                                 else tval).alias(f.name))
                extra = ([F.col("__rid")] if "__rid" in frame.columns else [])
                return frame.select(*cols, *extra)

            rewritten = None
            if touched:
                keep = (decided_t.filter(~F.col("_act").isin(del_codes))
                        if del_codes else decided_t)
                rewritten = out_projection(keep)
                if upd_specs:
                    self._validate_constraints(
                        out_projection(keep.filter(F.col("_act") != -1)))

            inserts = None
            if when_not_matched:
                # NULL-SAFE key matching, same struct packing as the decision
                # pass above: a plain column-equality semi/anti join would
                # never match NULL key values, so a source row with a NULL
                # key would re-insert forever even though the matched arm
                # (struct join) updates its target row — the two arms must
                # agree on what "matched" means (incremental MV folds group
                # by nullable columns and hit this every refresh).
                mk = F.struct(*[F.col(k) for k in keys]).alias("_mk")
                matched_keys = (base.select(mk)
                                .join(F.broadcast(source.select(mk).distinct()),
                                      "_mk", "left_semi").distinct())
                s_f = (source.select(
                           mk,
                           F.struct(*[F.col(c) for c in source.columns])
                           .alias("s"))
                       .join(F.broadcast(matched_keys), "_mk", "left_anti")
                       .select("s"))
                e = None
                for idx, cl in enumerate(when_not_matched):
                    c = clause_cond(cl)
                    e = F.when(c, idx) if e is None else e.when(c, idx)
                s_f = (s_f.withColumn("_act", e.otherwise(F.lit(-1)))
                       .filter(F.col("_act") != -1))
                frames = []
                for idx, cl in enumerate(when_not_matched):
                    vals = cl.get("values", "*")
                    if vals != "*":
                        bad = [c for c in vals if c not in tcols]
                        if bad:
                            raise ValueError(
                                f"MERGE INSERT references unknown column(s) "
                                f"{bad}")
                    sel = []
                    for f in schema.fields:
                        if vals == "*":
                            if f.name not in source.columns:
                                continue
                            v = F.col("s").getField(f.name)
                        else:
                            if f.name not in vals:
                                continue
                            v = F.expr(vals[f.name])
                        sel.append(v.cast(f.dataType).alias(f.name))
                    if not sel:
                        raise ValueError(
                            f"MERGE INSERT clause {idx} binds no table column")
                    fr = s_f.filter(F.col("_act") == idx).select(*sel)
                    fr = self._fill_defaults(fr)
                    fr = self._apply_generated(fr)
                    frames.append(fr)
                inserts = frames[0]
                for fr in frames[1:]:
                    inserts = inserts.unionByName(fr, allowMissingColumns=True)
                # BY DEFAULT identity: NULL/absent slots engine-assigned past
                # the high-water mark (ALWAYS tables were refused above)
                inserts, ident_actions = self._assign_identity(inserts, pin)
                self._validate_constraints(inserts)
                # Bounded by the source (anti-join of it), evaluated up to
                # two more times below (segment write, CDF) — and each bare
                # evaluation would re-run the matched-keys semi-join over the
                # full snapshot just to rebuild its broadcast.  Persist for
                # the statement's duration (after validation, so a refused
                # batch never pins cache).
                inserts = pin(inserts)
            else:
                ident_actions = []

            if not touched and inserts is None:
                return self.latest_version()

            if rewritten is not None and inserts is not None:
                merged = rewritten.unionByName(inserts,
                                               allowMissingColumns=True)
            else:
                merged = rewritten if rewritten is not None else inserts

            def changes() -> DataFrame:
                parts = []
                if touched:
                    rw = decided_t
                    if upd_specs:
                        upd = rw.filter(F.col("_act").isin(list(upd_specs)))
                        pre = upd.select(
                            *[F.col("t").getField(c).alias(c) for c in tcols]
                        ).withColumn("_change_type",
                                     F.lit("update_preimage"))
                        post = self._drop_rid(
                            out_projection(upd)).withColumn(
                            "_change_type", F.lit("update_postimage"))
                        parts += [pre, post]
                    if del_codes:
                        dels = (rw.filter(F.col("_act").isin(del_codes))
                                .select(*[F.col("t").getField(c).alias(c)
                                          for c in tcols])
                                .withColumn("_change_type",
                                            F.lit("delete")))
                        parts.append(dels)
                if inserts is not None:
                    parts.append(
                        inserts.withColumn("_change_type", F.lit("insert")))
                ch = parts[0]
                for p in parts[1:]:
                    ch = ch.unionByName(p, allowMissingColumns=True)
                return ch

            return self._commit_rewrite(
                "MERGE", base_version, touched, merged, changes,
                key_ranges=ranges,
                commit={"clauses": {
                    "matched": len(when_matched),
                    "notMatched": len(when_not_matched),
                    "notMatchedBySource": len(when_not_matched_by_source)}},
                txn=(None if txn_app_id is None
                     else (txn_app_id, txn_version)),
                actions=ident_actions + evo_actions)

    def delete_where(self, condition, use_dv: bool = False,
                     prune: list[tuple] | None = None) -> int:
        """DELETE rows matching ``condition`` — two physical strategies,
        one logical result:

        - copy-on-write (default): rewrite only the segments holding
          matches; survivors carried to new segments.
        - ``use_dv=True`` — merge-on-read DELETION VECTORS: write a tiny
          sidecar of (file, row position) tombstones and touch NO data
          segment.  Deleting k rows costs O(k) bytes regardless of
          segment size — at 100 TB, deleting one row from a 1 GB segment
          stops costing a 1 GB rewrite.  Readers anti-join the (broadcast
          small) DV rows by position; the next rewrite of the file
          (MERGE / OPTIMIZE) materializes the deletions and retires the
          DV.  This is Delta's deletion-vector design.

        SQL DELETE semantics either way: only rows where the predicate is
        TRUE go; NULL-evaluating rows survive.

        ``prune``: optional ``(col, op, value)`` conjuncts IMPLIED BY
        ``condition`` (the SQL surface supplies them via
        ``sql_predicate_triples``); the match probe then scans only
        files whose footer stats could satisfy them (guide §6) — sound
        because a file with no row matching a conjunct subset has no
        row matching the full condition, and the row filter still runs."""
        self._check_append_only("DELETE")
        base_version = self.latest_version()
        if use_dv:
            return self._delete_where_dv(condition, base_version, prune)
        files, _ = self._snapshot_files()
        if not files:
            raise FileNotFoundError("empty table")
        cand = self.prune_files(list(prune))[0] if prune else None
        touched = self._touched_files(
            self._read_active(with_file=True, only=cand).filter(condition))
        if not touched:
            return self.latest_version()
        cond = F.coalesce(condition, F.lit(False))
        # tracked read: surviving rows keep their row ids through the
        # rewrite (copy-on-write DELETE never changes surviving rows)
        return self._commit_rewrite(
            "DELETE", base_version, touched,
            self._read_active_tracked(only=touched).filter(~cond),
            lambda: (self._read_active(only=touched).filter(cond)
                     .withColumn("_change_type", F.lit("delete"))))

    def insert_overwrite(self, df: DataFrame,
                         partitions: dict | None = None) -> int:
        """``INSERT OVERWRITE`` as ONE atomic commit: de-list the active
        segments — ALL of them, or (``partitions={"pcol": value}``,
        Delta's replaceWhere shape) only those in the matching
        partitions — and add the new data's segments.  Readers never see
        an empty or half-replaced table (snapshot isolation: the swap is
        a single commit), and time travel to before it still works.
        At 100 TB the partition-scoped form is the daily-reload shape:
        replace one day's partition atomically, touch nothing else.

        With CDF enabled, the replaced rows are persisted as ``delete``
        changes and the new rows as ``insert`` — downstream incremental
        consumers see the overwrite as row-level churn, like Delta."""
        self._check_append_only("INSERT OVERWRITE")
        base_version = self.latest_version()
        active, _ = self._snapshot()
        if partitions:
            pcols = set(self._partition_columns())
            bad = sorted(set(partitions) - pcols)
            if bad:
                raise ValueError(
                    f"INSERT OVERWRITE PARTITION supports partition "
                    f"columns only; {bad} are not partition columns")
            removed = [p for p, stats in active.items()
                       if all((stats or {}).get("partitionValues", {})
                              .get(c) == str(v)
                              for c, v in partitions.items())]
            # rows landing outside the replaced partition would silently
            # widen the overwrite's scope — refuse, like replaceWhere.
            # A row is out of scope if ANY partition column mismatches
            # (OR of per-column mismatches, not a chain of filters —
            # chaining would AND the negations and only catch rows that
            # mismatch EVERY column).
            out_of_scope = functools.reduce(
                operator.or_,
                [~F.col(c).cast("string").eqNullSafe(str(v))
                 for c, v in partitions.items()])
            if df.filter(out_of_scope).limit(1).count():
                raise ValueError(
                    "INSERT OVERWRITE PARTITION: incoming rows fall "
                    f"outside the replaced partition {partitions}")
        else:
            removed = list(active)
        df = self._apply_generated(df)
        with self._pinned() as pin:
            df, ident_actions = self._assign_identity(df, pin)
            self._validate_constraints(df)
            cdf_actions: list[dict] = []
            if self.enable_cdf:
                old = (self._read_active(
                    only=[os.path.join(self.path, p) for p in removed])
                    .withColumn("_change_type", F.lit("delete"))
                    if removed else None)
                new = df.withColumn("_change_type", F.lit("insert"))
                changes = (old.unionByName(new, allowMissingColumns=True)
                           if old is not None else new)
                cdf_actions = [
                    {"cdf": {"path": self._write_change_data(changes)}}]
            rel_new = self._write_segments(df)
        commit: dict = {"op": "OVERWRITE", "ts": self._next_ts(),
                        "filesRemoved": len(removed),
                        "filesAdded": len(rel_new)}
        if partitions:
            commit["partition"] = {c: str(v) for c, v in partitions.items()}
        actions = (
            [{"commit": commit}]
            + [{"remove": {"path": p}} for p in removed]
            + ident_actions
            + self._add_actions(rel_new)
            + cdf_actions
        )
        return self._commit_with_occ(actions, removed, base_version)

    def _check_update_assignments(self, exprs: dict, columns: list) -> None:
        """Shared UPDATE guards: unknown columns and direct SET of
        generated or identity columns are refused (both strategies)."""
        unknown = set(exprs) - set(columns)
        if unknown:
            raise ValueError(
                f"UPDATE SET of unknown columns: {sorted(unknown)}")
        direct_gen = set(exprs) & set(self._generated_columns())
        if direct_gen:
            raise ValueError(
                f"UPDATE SET of generated columns {sorted(direct_gen)}: "
                "generated values are derived, not assigned")
        direct_ident = set(exprs) & set(self._identity_columns())
        if direct_ident:
            raise ValueError(
                f"UPDATE SET of identity columns {sorted(direct_ident)}: "
                "identity values are never updated (Delta refuses this "
                "for both ALWAYS and BY DEFAULT identity)")

    def update_where(self, assignments: dict, condition,
                     use_dv: bool = False,
                     prune: list[tuple] | None = None) -> int:
        """UPDATE rows where ``condition`` is TRUE with ``assignments``
        ({column: SQL expression or Column}) — two physical strategies,
        one logical result (mirror of ``delete_where``):

        - copy-on-write (default): only segments holding matches are
          rewritten (DV-applied read, so tombstoned rows neither match
          nor survive).
        - ``use_dv=True`` — merge-on-read: the matched rows' positions
          are TOMBSTONED via a deletion-vector sidecar and their
          post-update images appended as new segments in the SAME
          commit; no existing segment is rewritten.  Updating k rows
          costs O(k) regardless of segment size — at 100 TB, bumping
          one row in a 1 GB segment stops costing a 1 GB rewrite; the
          next REORG PURGE / OPTIMIZE materializes the layout.

        All assignment expressions see PRE-update values (single
        simultaneous projection — standard SQL UPDATE semantics).
        NULL-evaluating rows are untouched.

        ``prune``: conjunct triples implied by ``condition`` — the match
        probe skips files by footer stats (see ``delete_where``)."""
        self._check_append_only("UPDATE")
        base_version = self.latest_version()
        if use_dv:
            return self._update_where_dv(assignments, condition,
                                         base_version, prune)
        files, _ = self._snapshot_files()
        if not files:
            raise FileNotFoundError("empty table")
        cond = F.coalesce(condition, F.lit(False))
        cand = self.prune_files(list(prune))[0] if prune else None
        touched = self._touched_files(
            self._read_active(with_file=True, only=cand).filter(cond))
        if not touched:
            return self.latest_version()
        # tracked read: carried AND updated rows keep their row ids
        # through the rewrite (an updated row is the same logical row)
        seg = self._read_active_tracked(only=touched)
        post = self._update_images(assignments, seg.columns)
        # The match flag is materialized BEFORE assignments: both the
        # assignment guards and the generated-column recompute must test
        # the PRE-update predicate (an assignment that changes a
        # predicate column would otherwise flip the guard mid-row).
        # Post-images of the matched rows are built from the PRE-filtered
        # rows for the same reason.
        updated = post(seg.withColumn("__upd", cond),
                       F.col("__upd")).drop("__upd")
        # post-update images must still satisfy the CHECK constraints
        self._validate_constraints(post(seg.filter(cond)))
        return self._commit_rewrite(
            "UPDATE", base_version, touched, updated,
            lambda: (self._drop_rid(seg.filter(cond))
                     .withColumn("_change_type", F.lit("update_preimage"))
                     .unionByName(
                         self._drop_rid(post(seg.filter(cond)))
                         .withColumn("_change_type",
                                     F.lit("update_postimage")),
                         allowMissingColumns=True)))

    def _dv_protocol_actions(self) -> list[dict]:
        """First DV on a table: upgrade the protocol to (3, 7) AND list
        deletionVectors as an explicit reader+writer feature (Delta's
        table-features model) — merged with whatever features the table
        already lists, never overwritten (the protocol fold is
        last-action-wins)."""
        proto = self.protocol()
        if "deletionVectors" in proto.get("readerFeatures", []):
            return []
        rf = sorted(set(proto.get("readerFeatures", []))
                    | {"deletionVectors"})
        wf = sorted(set(proto.get("writerFeatures", []))
                    | {"deletionVectors"})
        return [{"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": _SUPPORTED_WRITER_VERSION,
            "readerFeatures": rf, "writerFeatures": wf}}]

    def _write_dv(self, dv_df: DataFrame) -> str:
        """Persist a deletion-vector sidecar (columns: path, row_index)."""
        sub = os.path.join("_deletion_vectors", f"dv-{uuid.uuid4().hex[:12]}")
        dv_df.write.mode("errorifexists").parquet(
            os.path.join(self.path, sub))
        return sub

    def _dv_rows(self, dv_rel: str, files: set[str]) -> set[tuple[str, int]]:
        """The (file, row_index) tombstones a DV sidecar holds for
        ``files`` — loaded driver-side via pyarrow with the file filter
        pushed into the scan, so the cost is O(tombstones on the
        requested files), bounded by DV scale regardless of table
        size.  Used only by the OCC retry path's row-level check."""
        import pyarrow.dataset as pads

        dataset = pads.dataset(os.path.join(self.path, dv_rel),
                               format="parquet")
        tbl = dataset.to_table(
            columns=["path", "row_index"],
            filter=pads.field("path").isin(sorted(files)))
        return set(zip(tbl.column("path").to_pylist(),
                       tbl.column("row_index").to_pylist()))

    def _check_dv_row_conflicts(self, dv_guards: list[dict],
                                base_version: int, v: int) -> None:
        """Raise iff an intervening commit's DV tombstones INTERSECT one
        of ours at row granularity (see the call site in
        ``_commit_with_occ`` for the commute/conflict rule)."""
        for i in range(base_version + 1, v):
            acts = self._read_commit(i)
            their_op = next((a["commit"].get("op") for a in acts
                             if "commit" in a), None)
            for action in acts:
                dvi = action.get("dvAdd")
                if dvi is None:
                    continue
                their_targets = set(dvi["targets"])
                for g in dv_guards:
                    shared = their_targets & set(g["targets"])
                    if not shared:
                        continue
                    if g["op"] == "delete" and their_op == "DELETE":
                        continue  # tombstone unions commute row-wise
                    hit = (self._dv_rows(g["path"], shared)
                           & self._dv_rows(dvi["path"], shared))
                    if hit:
                        f, pos = min(hit)
                        raise RuntimeError(
                            "concurrent commit conflict: version "
                            f"{i} ({their_op}) tombstoned row {pos} "
                            f"of {f!r}, which this "
                            f"{g['op'].upper()} also modifies; "
                            "re-run against the current snapshot")

    def _delete_where_dv(self, condition, base_version: int,
                         prune: list[tuple] | None = None) -> int:
        """Deletion-vector DELETE body (see ``delete_where``)."""
        cand = self.prune_files(list(prune))[0] if prune else None
        live = self._read_active(with_pos=True, only=cand)
        matches = live.filter(F.coalesce(condition, F.lit(False)))
        dv_df = (matches
                 .select(F.col("__relfile").alias("path"),
                         F.col("__rowidx").alias("row_index")))
        targets = sorted(r["path"] for r in
                         dv_df.select("path").distinct().collect())
        if not targets:
            return self.latest_version()
        dv_rel = self._write_dv(dv_df)
        cdf_actions: list[dict] = []
        if self.enable_cdf:
            deleted = (matches.drop("__relfile", "__rowidx")
                       .withColumn("_change_type", F.lit("delete")))
            cdf_actions = [{"cdf": {"path": self._write_change_data(deleted)}}]
        # first DV on the table bumps the protocol (Delta: deletion
        # vectors require reader 3 / writer 7) so pre-DV readers fail
        # loudly instead of resurrecting tombstoned rows
        proto_actions = self._dv_protocol_actions()
        actions = (
            [{"commit": {"op": "DELETE", "ts": self._next_ts(),
                         "mode": "dv", "dvTargets": len(targets)}}]
            + proto_actions
            + [{"dvAdd": {"path": dv_rel, "targets": targets}}]
            + cdf_actions
        )
        # OCC: "removed" carries the DV's target files — a concurrent
        # rewrite (MERGE/OPTIMIZE) of one of them invalidates our row
        # positions, and must surface as a conflict, not silent loss.
        # The dv_guard adds ROW-level resolution against concurrent DV
        # commits on the same files: disjoint rows commute (and
        # delete × delete always does), overlapping rows conflict.
        v = self._commit_with_occ(
            actions, targets, base_version,
            dv_guards=[{"path": dv_rel, "targets": targets,
                        "op": "delete"}])
        self._maybe_auto_reorg()
        return v

    def _update_where_dv(self, assignments: dict, condition,
                         base_version: int,
                         prune: list[tuple] | None = None) -> int:
        """Merge-on-read UPDATE body (see ``update_where``): tombstone
        the matched positions, append the post-update images — both in
        ONE commit, no segment rewritten.  Under row tracking the
        post-images carry the tombstoned row's id (materialized __rid),
        so an updated row keeps its identity across the tombstone+append."""
        cand = self.prune_files(list(prune))[0] if prune else None
        if self._row_tracking_enabled():
            live = self._read_active(with_pos=True, with_rid=True,
                                     only=cand)
            live = (self._attach_row_ids(live)
                    .drop("__rid", "__base")
                    .withColumnRenamed("_row_id", "__rid"))
        else:
            live = self._read_active(with_pos=True, only=cand)
        cond = F.coalesce(condition, F.lit(False))
        matches = live.filter(cond)
        dv_df = (matches
                 .select(F.col("__relfile").alias("path"),
                         F.col("__rowidx").alias("row_index")))
        targets = sorted(r["path"] for r in
                         dv_df.select("path").distinct().collect())
        if not targets:
            return self.latest_version()
        pre = matches.drop("__relfile", "__rowidx")
        post = self._update_images(assignments, pre.columns)(pre)
        self._validate_constraints(post)
        rel_new = self._write_segments(post)
        dv_rel = self._write_dv(dv_df)
        cdf_actions: list[dict] = []
        if self.enable_cdf:
            changes = (
                self._drop_rid(pre)
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    self._drop_rid(post)
                    .withColumn("_change_type", F.lit("update_postimage")),
                    allowMissingColumns=True))
            cdf_actions = [{"cdf": {"path": self._write_change_data(changes)}}]
        proto_actions = self._dv_protocol_actions()
        actions = (
            [{"commit": {"op": "UPDATE", "ts": self._next_ts(),
                         "mode": "dv", "dvTargets": len(targets),
                         "filesAdded": len(rel_new)}}]
            + proto_actions
            + [{"dvAdd": {"path": dv_rel, "targets": targets}}]
            + self._add_actions(rel_new)
            + cdf_actions
        )
        # OCC: a concurrent rewrite of a tombstoned file invalidates our
        # row positions — same conflict surface as the DV delete — and
        # the dv_guard resolves concurrent DV commits at ROW level: an
        # UPDATE conflicts with ANY concurrent tombstone of the same row
        # (a lost delete or a duplicated post-image otherwise), while
        # disjoint row sets on the same file commute.
        v = self._commit_with_occ(
            actions, targets, base_version,
            dv_guards=[{"path": dv_rel, "targets": targets,
                        "op": "update"}])
        self._maybe_auto_reorg()
        return v

    def optimize_compact(self, target_segments: int | None = None,
                         zorder_by: list[str] | None = None,
                         where: dict | None = None) -> int:
        """OPTIMIZE-style compaction: rewrite the current snapshot into
        ``target_segments`` larger segments — same rows, new layout.  Old
        segments are de-listed (still readable via time travel) so small
        files from many streaming/merge commits stop taxing scan planning.
        At 100 TB this runs per partition with a size threshold; the
        commit shape (remove-many, add-few) is identical.

        ``zorder_by=[colA, colB]`` = Delta's OPTIMIZE ZORDER BY: rows are
        range-partitioned and sorted by the bit-interleaved Morton value
        of the (integer) columns before the write, so each new segment's
        footer min/max stays TIGHT in every z-ordered dimension at once —
        the layout that lets ``prune_files`` skip segments for predicates
        on ANY of the columns, where a single-column sort only helps the
        first (demonstrated by tests/test_txlog.py and the
        delta_zorder_optimize query)."""
        base_version = self.latest_version()
        if where:
            # partition-scoped compaction (Delta's ``OPTIMIZE t WHERE
            # part = v``): at 100 TB, OPTIMIZE runs incrementally over
            # the partitions that accumulated small files — never the
            # whole table.  Only equality predicates on partition
            # columns select files (exact per-file constants); anything
            # else is refused loudly.
            pcols = set(self._partition_columns())
            bad = sorted(set(where) - pcols)
            if bad:
                raise ValueError(
                    f"OPTIMIZE WHERE supports partition columns only; "
                    f"{bad} are not partition columns of this table")
            active, _ = self._snapshot()
            files = [os.path.join(self.path, p)
                     for p, stats in active.items()
                     if all((stats or {}).get("partitionValues", {})
                            .get(c) == str(v) for c, v in where.items())]
        else:
            files, _ = self._snapshot_files()
        if not files:
            return self.latest_version()
        if zorder_by is None:
            # liquid clustering: a plain OPTIMIZE on a CLUSTER BY table
            # re-clusters on the recorded columns (Delta liquid's model —
            # clustering is table metadata, OPTIMIZE applies it
            # incrementally; an explicit ZORDER BY still overrides)
            clustered = self.clustering_columns()
            if clustered:
                zorder_by = clustered
        if target_segments is None:
            tfs = self.properties().get("delta.targetFileSize")
            if tfs:
                # size-targeted compaction (Delta's targetFileSize): pick
                # the segment count from the snapshot's actual bytes so
                # output files land near the configured size — the knob
                # that matters at 100 TB, where "2 segments" is
                # meaningless but "~1 GB files" is the scan-planning
                # sweet spot.  Sizes come from os.stat (O(files) driver
                # metadata, files never opened).
                target = _parse_size(tfs)
                total = 0
                for p in files:
                    try:
                        total += os.path.getsize(os.path.normpath(p))
                    except OSError:
                        pass
                target_segments = max(1, round(total / target)) if total \
                    else 1
            else:
                # plain OPTIMIZE compacts; ZORDER is a re-LAYOUT — it
                # keeps the segment count (≙ Delta's size-targeted
                # rewrite) so the per-file stat ranges it tightens stay
                # fine-grained.
                target_segments = len(files) if zorder_by else 2
        # DV-applied: compaction MATERIALIZES outstanding deletion
        # vectors (the rewritten segments exclude tombstoned rows) and
        # the removes below retire the DVs from the snapshot.
        # row tracking: a layout op must PRESERVE row ids — the tracked
        # read resolves each row's current id and the rewrite carries it
        # as the physical __rid column, which reads prefer over base+pos.
        snap = self._read_active_tracked(only=files if where else None)
        if zorder_by:
            zval = _zorder_value(zorder_by)
            compacted = (snap.withColumn("__zval", zval)
                         .repartitionByRange(target_segments, "__zval")
                         .sortWithinPartitions("__zval")
                         .drop("__zval"))
        else:
            compacted = snap.repartition(target_segments)
        commit: dict = {}
        if zorder_by:
            commit["zorderBy"] = list(zorder_by)
        if where:
            commit["where"] = {c: str(v) for c, v in where.items()}
        return self._commit_rewrite("OPTIMIZE", base_version, files,
                                    compacted, commit=commit)

    def copy_into(self, src_path: str, file_format: str = "parquet",
                  options: dict | None = None) -> tuple[int, int]:
        """Idempotent bulk file ingest (Delta's ``COPY INTO``): every
        SOURCE FILE under ``src_path`` is loaded AT MOST ONCE EVER —
        re-running after a partial failure, or on a schedule over a
        landing directory that keeps accumulating files, appends only
        the files not yet ingested.  This is the batch-ingest front door
        of a 100 TB lakehouse: retry-safe without an external ledger.

        File identity is the absolute source path, recorded as a Delta
        ``txn`` action (appId ``copy:<path>``) in the same commit that
        adds the data — so the already-loaded set is transactional with
        the load itself and rides the SAME checkpoint-bounded state as
        streaming-sink watermarks (no extra log replay at scale).

        Source columns are matched BY NAME and cast to the table schema
        (Delta COPY INTO's default strict-schema behavior); missing
        columns raise.  Sequential re-runs are exactly-once per file;
        two COPY INTOs racing on the SAME files are not coordinated
        beyond last-writer-wins on the txn watermark (single scheduled
        ingest job per landing dir — the command's operational shape).

        Returns ``(table version, files loaded)``; loading nothing is a
        version-free no-op."""
        base_version = self.latest_version()
        ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json",
               "jsonl": ".jsonl"}.get(file_format.lower())
        if ext is None:
            raise ValueError(f"unsupported COPY INTO format: {file_format!r}")
        src_abs = os.path.abspath(src_path)
        candidates = sorted(
            p for p in glob.glob(os.path.join(src_abs, "*" + ext))
            if os.path.isfile(p))
        if not candidates:
            raise FileNotFoundError(
                f"no {file_format} files under {src_path}")
        loaded_state = self._txn_constraint_state()[0]
        new_files = [p for p in candidates
                     if loaded_state.get(f"copy:{p}", -1) < 0]
        if not new_files:
            return self.latest_version(), 0
        reader = self.spark.read
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        user_keys = {k.lower() for k in (options or {})}
        if file_format.lower() == "parquet":
            src = reader.option("mergeSchema", "true").parquet(*new_files)
        elif file_format.lower() == "csv":
            # header defaults to true but a caller's explicit
            # header=false must win (headerless landing files would
            # otherwise lose their first data row)
            if "header" not in user_keys:
                reader = reader.option("header", "true")
            src = reader.csv(new_files)
            # headerless CSVs (explicit header=false) infer _c0.._cN —
            # names that can never match the table; bind POSITIONALLY to
            # the table's user-supplied columns, in schema order
            if all(re.fullmatch(r"_c\d+", c) for c in src.columns):
                _, sj = self._snapshot_files()
                user_cols = [
                    f.name for f in
                    T.StructType.fromJson(json.loads(sj)).fields
                    if f.name not in self._generated_columns()
                    and f.name not in self._identity_columns()]
                if len(src.columns) != len(user_cols):
                    raise ValueError(
                        f"COPY INTO headerless CSV has "
                        f"{len(src.columns)} columns; the table takes "
                        f"{len(user_cols)} user-supplied columns "
                        f"{user_cols} (positional binding)")
                src = src.toDF(*user_cols)
        else:
            src = reader.json(new_files)
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        gen = self._generated_columns()
        ident = self._identity_columns()
        # BY DEFAULT identity columns present in the source files keep
        # their values (NULL slots engine-assigned); ALWAYS identity and
        # absent BY DEFAULT columns are engine-assigned wholesale.
        required = [f for f in schema.fields
                    if f.name not in gen
                    and (f.name not in ident
                         or (not ident[f.name].get("always", True)
                             and f.name in src.columns))]
        defaults = self._column_defaults()
        missing = [f.name for f in required
                   if f.name not in src.columns and f.name not in defaults]
        if missing:
            raise ValueError(
                f"COPY INTO source lacks table column(s) {missing} "
                "(columns are matched by name; columns with a DEFAULT "
                "may be omitted)")
        df = src.select(*[
            (F.col(f.name) if f.name in src.columns
             else F.expr(defaults[f.name])).cast(f.dataType).alias(f.name)
            for f in required])
        df = self._apply_generated(df)
        # expectations gate the landing files like every ingest path —
        # the quality contract COPY INTO exists for (bulk front door)
        df, exp_commit = self._apply_expectations(df)
        with self._pinned() as pin:
            df, ident_actions = self._assign_identity(df, pin)
            self._validate_constraints(df)
            rel = self._write_segments(df)
        actions = (
            [{"commit": {"op": "COPY INTO", "ts": self._next_ts(),
                         "source": src_abs,
                         "filesLoaded": len(new_files),
                         **exp_commit}}]
            + [{"txn": {"appId": f"copy:{p}", "version": 1}}
               for p in new_files]
            + ident_actions
            + self._add_actions(rel)
        )
        version = self._commit_with_occ(actions, [], base_version)
        self._maybe_auto_compact()
        return version, len(new_files)

    def reorg_purge(self, min_deleted_ratio: float | None = None) -> int:
        """``REORG TABLE t APPLY (PURGE)`` (Delta's DV-materialization
        command): rewrite ONLY the segments that carry outstanding
        deletion vectors, excluding their tombstoned rows, and retire
        the DV sidecars; DV-free segments are untouched.  This is the
        targeted complement to OPTIMIZE — at 100 TB, DVs accumulate
        read-side anti-join cost file by file, and PURGE pays exactly
        O(dv'd files) to clear them instead of a full-table rewrite.
        Logical content is unchanged (no CDF rows, stream-transparent
        like OPTIMIZE).  No-op (no new version) when no DVs exist.

        ``min_deleted_ratio``: purge only segments whose tombstoned
        fraction (DV positions / footer numRecords) reached the ratio —
        the density-targeted form the auto-maintenance hook uses, so a
        file with one tombstone out of a million rows is not rewritten
        just because a DV exists.  Files without recorded numRecords
        are skipped (unknown density — conservative)."""
        base_version = self.latest_version()
        active, _, dvs = self._snapshot_full()
        targets = sorted(p for p in active if dvs.get(p))
        if targets and min_deleted_ratio is not None:
            sidecars = sorted({s for p in targets for s in dvs[p]})
            counts = {
                r["path"]: r["n"]
                for r in self.spark.read.parquet(
                    *[os.path.join(self.path, s) for s in sidecars])
                .filter(F.col("path").isin(targets))
                .groupBy("path").agg(F.count("*").alias("n")).collect()}
            dense = []
            for p in targets:
                n_rec = (active.get(p) or {}).get("numRecords")
                if n_rec and counts.get(p, 0) / n_rec >= min_deleted_ratio:
                    dense.append(p)
            targets = dense
        if not targets:
            return self.latest_version()
        abs_targets = [os.path.join(self.path, p) for p in targets]
        # DV-applied survivors; id-preserving under row tracking
        return self._commit_rewrite(
            "REORG", base_version, abs_targets,
            self._read_active_tracked(only=abs_targets))

    # -- table properties (Delta TBLPROPERTIES) -----------------------------

    def properties(self) -> dict[str, str]:
        """Current table properties (checkpoint-bounded resolution)."""
        return dict(self._meta_state().get("properties", {}))

    def set_properties(self, props: dict[str, str]) -> int:
        """``ALTER TABLE … SET TBLPROPERTIES``: per-key merge into the
        property map, one metadata-only commit (Delta semantics —
        properties ride metaData, last writer wins per SET)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        merged = self.properties()
        merged.update({str(k): str(v) for k, v in props.items()})
        if "txlog.uniform.enabled" in props:
            # invalidate this handle's cached UniForm flag so the very
            # next commit honors the new setting
            self._uniform_enabled = None
        if "txlog.checksum.enabled" in props:
            self._crc_enabled = None  # same contract as the UniForm flag
        actions = [
            {"commit": {"op": "SET TBLPROPERTIES", "ts": self._next_ts(),
                        "keys": sorted(props)}},
            {"metaData": {"schemaJson": schema_json,
                          "properties": merged}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    def _domain_protocol_actions(self) -> list[dict]:
        """First domainMetadata on a table: list the feature in
        writerFeatures (Delta's domain-metadata model — WRITER-ONLY: an
        old reader can still read the data, only writers must preserve
        domains through their commits, so the reader version is left
        alone)."""
        proto = self.protocol()
        if "domainMetadata" in proto.get("writerFeatures", []):
            return []
        wf = sorted(set(proto.get("writerFeatures", []))
                    | {"domainMetadata"})
        return [{"protocol": {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": _SUPPORTED_WRITER_VERSION,
            "readerFeatures": proto.get("readerFeatures", []),
            "writerFeatures": wf}}]

    def set_domain_metadata(self, domain: str, configuration: dict) -> int:
        """Delta's DOMAIN METADATA (the ``domainMetadata`` writer
        feature): attach a named, system-owned configuration blob to the
        table that rides the LOG, not the schema — the mechanism real
        Delta uses for clustering state, row-tracking watermarks, and
        materialized-view bookkeeping.  One metadata-only commit; the
        domain map is checkpointed and replayed like txn watermarks, so
        reads stay O(interval).  Two concurrent commits touching the
        SAME domain conflict through OCC (write skew on the config);
        different domains commute — same rule Delta applies.  The first
        domain on a table lists ``domainMetadata`` in writerFeatures
        (writer-only: readers stay unfenced)."""
        base_version = self.latest_version()
        actions = (
            [{"commit": {"op": "SET DOMAIN METADATA",
                         "ts": self._next_ts(), "domain": domain}}]
            + self._domain_protocol_actions()
            + [{"domainMetadata": {
                "domain": domain,
                "configuration": json.dumps(configuration,
                                            sort_keys=True),
                "removed": False}}])
        return self._commit_with_occ(actions, [], base_version,
                                     domains=[domain])

    def remove_domain_metadata(self, domain: str) -> int:
        """Tombstone a metadata domain (Delta's removal form: the action
        is kept in the log with ``removed=true`` so checkpoint replay
        drops it deterministically).  Raises KeyError for a domain that
        was never set — silent removal would mask a caller bug."""
        if domain not in self._domain_state():
            raise KeyError(f"no domain metadata for {domain!r}")
        base_version = self.latest_version()
        actions = [
            {"commit": {"op": "REMOVE DOMAIN METADATA",
                        "ts": self._next_ts(), "domain": domain}},
            {"domainMetadata": {"domain": domain, "configuration": "{}",
                                "removed": True}},
        ]
        return self._commit_with_occ(actions, [], base_version,
                                     domains=[domain])

    def domain_metadata(self, domain: str | None = None,
                        version: int | None = None):
        """Read domain metadata at ``version`` (default latest): the
        full {domain: config dict} map, or one domain's config dict
        (None when absent)."""
        state = self._domain_state(version)
        if domain is not None:
            raw = state.get(domain)
            return None if raw is None else json.loads(raw)
        return {k: json.loads(v) for k, v in sorted(state.items())}

    def unset_properties(self, keys: list[str]) -> int:
        """``ALTER TABLE … UNSET TBLPROPERTIES`` (missing keys are a
        no-op, like Delta's IF EXISTS form)."""
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        merged = self.properties()
        for k in keys:
            merged.pop(str(k), None)
        actions = [
            {"commit": {"op": "SET TBLPROPERTIES", "ts": self._next_ts(),
                        "unset": sorted(keys)}},
            {"metaData": {"schemaJson": schema_json,
                          "properties": merged}},
        ]
        return self._commit_with_occ(actions, [], base_version)

    @staticmethod
    def _scd2_frontier(start_col: str, end_col: str):
        """Per-row frontier contribution for the SCD2 settled-history
        guard: the max event sequence the row records.  An OPEN row
        (NULL end) contributes its start; a CLOSED row contributes its
        END — the end IS an event (the delete or supersession that
        closed it), so accepting a batch sequenced inside [start, end)
        would rewrite settled history (ADVICE r11: the start-only guard
        let a delete land between a closed row's bounds, persisting a
        tombstone the next splice folded into a silent shrink of the
        settled row)."""
        return F.greatest(F.col(start_col),
                          F.coalesce(F.col(end_col), F.col(start_col)))

    def _scd2_mark_actions(self, start_col: str, end_col: str,
                           schema_json: str) -> list[dict]:
        """Actions recording the table's SCD2 history columns in its
        properties (``txlog.scd2.startCol``/``endCol``) — piggybacked on
        the FIRST apply_changes_scd2 commit (no extra version), so the
        public read path can hide zero-width tombstone rows without
        being told the column names.  Empty once recorded."""
        props = self.properties()
        if props.get("txlog.scd2.startCol") == start_col and \
                props.get("txlog.scd2.endCol") == end_col:
            return []
        merged = dict(props)
        merged["txlog.scd2.startCol"] = start_col
        merged["txlog.scd2.endCol"] = end_col
        return [{"metaData": {"schemaJson": schema_json,
                              "properties": merged}}]

    def _scd2_hide_tombstones(self, df: DataFrame,
                              version: int | None = None) -> DataFrame:
        """Public-read projection of an SCD2 table: zero-width tombstone
        rows ``[s, s)`` are internal delete traces (kept so backfill
        splices stay lossless), never row versions — Delta/DLT APPLY
        CHANGES materializes no such rows, so COUNT(*) and downstream
        CDF consumers must not see them.  No-op unless the table's
        properties record SCD2 history columns (stamped by the first
        apply_changes_scd2 commit).  Internal rewrite paths read via
        ``_read_active`` and keep the full trace.

        RETROACTIVE for time travel (ADVICE r11, medium): a table
        stamped today was an SCD2 table all along — its history column
        names never change — so an as-of read of a PRE-stamp version
        applies the LATEST stamp rather than serving tombstones the
        current read hides (the same query flipping answers across a
        version boundary that changed no data would be wrong).
        Upgrade note for pre-stamp tables: the stamp lands on the first
        post-upgrade ``apply_changes_scd2`` commit; until then a
        read-only pre-upgrade SCD2 table still shows its tombstones
        (nothing marks it as SCD2), and MVs maintained from a
        pre-suppression change feed are audited + FULL-repaired once
        by ``Engine.refresh`` (``mv.scd2TombstoneAudit``)."""
        props = self._meta_state(version).get("properties", {})
        sc_ = props.get("txlog.scd2.startCol")
        ec = props.get("txlog.scd2.endCol")
        if version is not None and not (sc_ and ec):
            cur = self._meta_state().get("properties", {})
            sc_ = cur.get("txlog.scd2.startCol")
            ec = cur.get("txlog.scd2.endCol")
        if sc_ and ec and sc_ in df.columns and ec in df.columns:
            df = df.filter(F.col(ec).isNull()
                           | (F.col(sc_) != F.col(ec)))
        return df

    @staticmethod
    def _apply_as_deletes(changes: DataFrame, change_type_col: str,
                          predicate: str | None):
        """DLT's ``APPLY AS DELETE WHEN <predicate>``: the change batch
        carries no change-type column — an SQL predicate over the batch
        columns marks the delete events, everything else upserts.  The
        fold machinery is untouched: the predicate becomes a derived
        change-type column here (a batch that ALSO carries the
        change-type column refuses — two delete markers are ambiguous).
        Returns (normalized batch, effective change_type_col)."""
        if predicate is None:
            return changes, change_type_col
        if change_type_col in changes.columns:
            raise ValueError(
                "apply_as_deletes: the batch already carries "
                f"{change_type_col!r} — two delete markers are "
                "ambiguous; drop the column or the predicate")
        return (changes.withColumn(
                    change_type_col,
                    F.when(F.expr(predicate), F.lit("delete"))
                    .otherwise(F.lit("upsert"))),
                change_type_col)

    def apply_changes(self, changes: DataFrame, key,
                      sequence_by: str,
                      change_type_col: str = "_change_type",
                      txn_app_id: str | None = None,
                      txn_version: int | None = None,
                      apply_as_deletes: str | None = None,
                      ignore_null_updates: bool = False) -> int:
        """CDC apply (the DLT ``APPLY CHANGES INTO`` shape, SCD type 1):
        fold an out-of-order change batch into this table as ONE atomic
        commit.  Per key, the row with the HIGHEST ``sequence_by`` value
        wins (late-arriving stale events lose regardless of arrival
        order — the property that makes at-least-once CDC transports
        safe); a winning ``delete`` removes the key, anything else
        upserts the row.  Requires a unique sequence per key (ties are
        ambiguous, like DLT).

        With ``txn_app_id`` + ``txn_version`` the apply is IDEMPOTENT
        (the same txnAppId/txnVersion contract as ``append``): a
        replayed batch — a restarted streaming query re-delivering its
        last micro-batch — is a no-op, including when a rival writer
        wins the commit race with the same epoch.  See ``cdc_sink``.

        SINGLE-PASS: upserts AND deletes land in one copy-on-write
        rewrite of exactly the segments holding any winner key — a
        staged DELETE-then-MERGE would rewrite the touched data twice
        (2× write amplification that matters at 100 TB).  The winner-key
        range rides the commit for other writers' OCC like a MERGE.

        ``ignore_null_updates=True`` (DLT's option): a NULL column in a
        change event means "keep the previous value" — resolved
        sequentially (last non-NULL per column across the seq-ordered
        events, seeded by the key's existing row; a delete resets the
        inheritance chain).  ``apply_as_deletes`` derives the change
        type from a predicate over an op column instead (see
        ``_apply_as_deletes``)."""
        self._check_append_only("APPLY CHANGES")
        if any(s.get("always", True)
               for s in self._identity_columns().values()):
            raise ValueError(
                "APPLY CHANGES into a table with GENERATED ALWAYS "
                "IDENTITY columns is not supported (same whole-row "
                "restriction as MERGE); BY DEFAULT identity composes")
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version go together")
        if txn_app_id is not None and \
                self.txn_version_for(txn_app_id) >= txn_version:
            return self.latest_version()  # replayed batch: already applied
        changes, change_type_col = self._apply_as_deletes(
            changes, change_type_col, apply_as_deletes)
        cols = changes.columns
        keys = self._key_list(key)
        for c in (*keys, sequence_by, change_type_col):
            if c not in cols:
                raise ValueError(f"apply_changes: column {c!r} missing "
                                 "from the change batch")
        exp_commit: dict = {}
        if not ignore_null_updates:
            changes, exp_commit = self._apply_expectations(
                changes, exempt=F.col(change_type_col) == "delete")
        base_version = self.latest_version()
        # The change batch is bounded (its winner keys are broadcast
        # below) and frequently an expensive plan (CDC transport reads,
        # streaming folds); this fold evaluates it many times — dup
        # check, winner fold, touched-file probe, rewrite, CDF images.
        # Persist for the fold's duration; scale-safe (broadcast bound).
        with self._pinned() as pin:
            changes = pin(changes)
            dup = (changes.groupBy(*keys, sequence_by).count()
                   .filter(F.col("count") > 1).limit(1).count())
            if dup:
                raise ValueError(
                    "apply_changes: duplicate (key, sequence) in the batch "
                    "— sequencing is ambiguous; deduplicate upstream")
            # logical column names straight from the committed schema — a
            # full read() plan (snapshot scan + DV anti-join) just for
            # .columns is wasted work
            _, schema_json = self._snapshot_files()
            target_cols = [
                f.name for f in
                T.StructType.fromJson(json.loads(schema_json)).fields]
            if ignore_null_updates:
                # r12: resolve the inheritance as a PRE-step — seeded by
                # one deterministic row per key,
                # reset by deletes — so the standard fold below sees a
                # fully-resolved batch and the expectation gate evaluates
                # the RESOLVED rows (ADVICE r11: a NULL inherit slot that
                # resolves to a passing value is not a violation; SCD1
                # keeps identity inheritance — "keep the previous value"
                # keeps the row's id on an in-place upsert)
                changes = self._resolve_null_updates(
                    changes, keys, sequence_by, change_type_col,
                    target_cols)
                changes, exp_commit = self._apply_expectations(
                    changes, exempt=F.col(change_type_col) == "delete")
                cols = changes.columns
            # The winner fold (groupBy + max_by) is re-evaluated by every
            # consumer below (key stats, touched probe, rewrite union, CDF
            # delete/post/insert splits); winners ≤ batch keys, so persist.
            winners = pin(changes.groupBy(*keys)
                          .agg(F.max_by(F.struct(*[F.col(c) for c in cols]),
                                        F.col(sequence_by)).alias("__w"))
                          .select("__w.*"))
            wkeys = winners.select(*keys).distinct()
            aggs = []
            for k in keys:
                aggs += [F.min(k).alias(f"mn_{k}"),
                         F.max(k).alias(f"mx_{k}")]
            stats = wkeys.agg(*aggs).collect()[0]
            ranges = [{"column": k, "min": _json_key(stats[f"mn_{k}"]),
                       "max": _json_key(stats[f"mx_{k}"])} for k in keys]
            # exactly the segments holding any winner key (DV-applied
            # read); only files whose stats could hold a winner key are
            # probed (data skipping — the plain-equality join rejects
            # NULL keys, so the non-NULL bounds prune is sound)
            touched = self._touched_files(
                self._read_active(
                    with_file=True,
                    only=self._key_probe_candidates(ranges))
                .join(F.broadcast(wkeys), keys, "left_semi"))
            # with ignore_null_updates the batch was already RESOLVED
            # above (pre-step), so one fold serves both modes: the winner
            # event decides delete-vs-upsert, its payload is the
            # inherited value at its sequence
            ups = (winners.filter(F.col(change_type_col) != "delete")
                   .select(*target_cols))
            ups = self._apply_generated(ups)
            ups, ident_actions = self._assign_identity(ups, pin)
            self._validate_constraints(ups)

            def cdf() -> DataFrame:
                if not touched:
                    return ups.withColumn("_change_type", F.lit("insert"))
                dkeys = (winners.filter(F.col(change_type_col) == "delete")
                         .select(*keys).distinct())
                pre = (self._read_active(only=touched)
                       .join(F.broadcast(wkeys), keys, "left_semi"))
                matched = pre.join(F.broadcast(dkeys), keys, "left_anti")
                mkeys = matched.select(*keys).distinct()
                return (
                    pre.join(F.broadcast(dkeys), keys, "left_semi")
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(matched.withColumn(
                        "_change_type", F.lit("update_preimage")),
                        allowMissingColumns=True)
                    .unionByName(
                        ups.join(F.broadcast(mkeys), keys, "left_semi")
                        .withColumn("_change_type",
                                    F.lit("update_postimage")),
                        allowMissingColumns=True)
                    .unionByName(
                        ups.join(F.broadcast(mkeys), keys, "left_anti")
                        .withColumn("_change_type", F.lit("insert")),
                        allowMissingColumns=True))

            return self._commit_rewrite(
                "APPLY CHANGES", base_version, touched,
                self._replace_keys(touched, keys, wkeys, ups), cdf,
                commit=exp_commit, key_ranges=ranges,
                txn=(None if txn_app_id is None
                     else (txn_app_id, txn_version)),
                actions=ident_actions + self._schema_evolution_action(ups))

    def _resolve_null_updates(self, changes: DataFrame, keys: list[str],
                              sequence_by: str, change_type_col: str,
                              payload_cols: list[str]) -> DataFrame:
        """DLT's ``IGNORE NULL UPDATES`` for the SCD TYPE 1 fold: a NULL
        column in a non-delete change event means "keep the previous
        value" — resolved SEQUENTIALLY per key (last non-NULL across the
        seq-ordered events, seeded by one deterministic row per existing
        key — max payload struct, since SCD1 targets normally hold one
        row per key; a delete RESETS the chain — its epoch starts at the
        delete row with a masked payload, so post-delete NULL slots
        inherit nothing).  Returns the batch with payloads resolved; the
        winner fold then applies unchanged.  One key shuffle; the seed
        is a broadcast-keyed semi join.  Resolving as a PRE-step lets
        the expectation gate evaluate the RESOLVED rows (ADVICE r11: a
        NULL inherit slot is not a violation).

        Identity columns inherit like any other: the row is UPDATED in
        place, so "keep the previous value" keeps its id.  (The SCD2
        fold resolves inside ``_scd2_splice``, where identity never
        inherits: each history row is a NEW row.)"""
        nonkey = [c for c in payload_cols if c not in keys]
        seq_type = {f.name: f.dataType
                    for f in changes.schema.fields}[sequence_by]
        not_del = F.col(change_type_col) != "delete"
        ev = changes.select(
            *keys,
            *[F.when(not_del, F.col(c)).alias(c) for c in nonkey],
            F.col(sequence_by).alias("__seq"),
            F.col(change_type_col).alias("__ct"),
            F.lit(1).alias("__ord"))
        kset = changes.select(*keys).distinct()
        seed = (self._read_active()
                .join(F.broadcast(kset), keys, "left_semi")
                .groupBy(*keys)
                .agg(F.max(F.struct(*[F.col(c) for c in nonkey]))
                     .alias("__s"))
                .select(*keys, "__s.*",
                        F.lit(None).cast(seq_type).alias("__seq"),
                        F.lit("__seed__").alias("__ct"),
                        F.lit(0).alias("__ord")))
        ev = ev.unionByName(seed)
        worder = [F.col("__ord"), F.col("__seq").asc_nulls_first()]
        w = Window.partitionBy(*keys).orderBy(*worder)
        ev = ev.withColumn(
            "__epoch",
            F.sum((F.col("__ct") == "delete").cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)))
        we = (Window.partitionBy(*keys, "__epoch").orderBy(*worder)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (ev.select(
                    *keys, "__ord",
                    *[F.last(F.col(c), ignorenulls=True).over(we).alias(c)
                      for c in nonkey],
                    F.col("__seq").alias(sequence_by),
                    F.col("__ct").alias(change_type_col))
                .filter(F.col("__ord") == 1)
                .drop("__ord"))

    def apply_changes_scd2(self, changes: DataFrame, key,
                           sequence_by: str,
                           change_type_col: str = "_change_type",
                           start_col: str = "__START_AT",
                           end_col: str = "__END_AT",
                           txn_app_id: str | None = None,
                           txn_version: int | None = None,
                           allow_backfill: bool = False,
                           apply_as_deletes: str | None = None,
                           track_history_except_columns=None,
                           ignore_null_updates: bool = False) -> int:
        """Persisting shim over ``_apply_changes_scd2_body`` (which holds
        the full contract docstring): the change batch is bounded (its
        keys are broadcast throughout the fold) but frequently an
        expensive plan — a CDC transport read or streaming micro-batch —
        and the fold evaluates it many times (dup check, key ranges,
        frontier guard, history re-fold, CDF images).
        Persist for the fold's duration so the transport runs once."""
        with self._pinned() as pin:
            return self._apply_changes_scd2_body(
                pin(changes), key, sequence_by, change_type_col, start_col,
                end_col, txn_app_id, txn_version, allow_backfill,
                apply_as_deletes, track_history_except_columns,
                ignore_null_updates)

    def _apply_changes_scd2_body(self, changes: DataFrame, key,
                                 sequence_by: str,
                                 change_type_col: str = "_change_type",
                                 start_col: str = "__START_AT",
                                 end_col: str = "__END_AT",
                                 txn_app_id: str | None = None,
                                 txn_version: int | None = None,
                                 allow_backfill: bool = False,
                                 apply_as_deletes: str | None = None,
                                 track_history_except_columns=None,
                                 ignore_null_updates: bool = False) -> int:
        """CDC apply with history tracking (the DLT ``APPLY CHANGES INTO
        … STORED AS SCD TYPE 2`` shape): fold a change batch into this
        table as ONE atomic commit, keeping EVERY version of every key.
        The target carries two sequence-typed columns: ``start_col`` =
        the sequence at which the row version became current and
        ``end_col`` = the sequence at which it was superseded (NULL =
        still current).

        Per key, the batch's events are ordered by ``sequence_by``
        (arrival order never matters): each non-delete event becomes a
        history row whose ``end_col`` is the NEXT event's sequence (NULL
        for the last), a ``delete`` event closes the preceding row and
        adds nothing (a later event re-opens the key), and the key's
        existing OPEN row is closed at the batch's first sequence.  A
        delete that closes NOTHING (no open row and no preceding batch
        event, or preceded by another delete) persists as a ZERO-WIDTH
        tombstone row ``[seq, seq)`` — inert for every as-of predicate
        (``start <= t < end`` matches no ``t``) but a lossless trace,
        without which a later sequenced backfill re-folding the key's
        timeline from its history rows would silently drop the delete
        and resurrect the row it kept closed (``start == end`` is
        unambiguous: every real history row has ``start < end``, since
        duplicate (key, sequence) events are refused).  Tombstones are
        INTERNAL: hidden from ``read()``/SQL projections and never
        emitted in the change feed (Delta/DLT materializes no such
        rows — a COUNT(*) or downstream CDF consumer sees only real
        row versions); the splice reads them back via the internal
        active read.  The first SCD2 commit records the history column
        names in ``txlog.scd2.startCol/endCol`` table properties so
        the read path knows what to hide.
        Settled history is immutable BY DEFAULT: every batch sequence
        must be strictly greater than the key's frontier — the max
        event sequence its history records, i.e. ``greatest(start_col,
        end_col)`` over the key's rows (a closed row's END is itself an
        event: the delete or supersession that closed it) — a batch
        that would rewrite closed rows raises instead of silently
        reordering history.  With
        ``allow_backfill=True`` (DLT's sequenced late-history backfill)
        a below-frontier batch is accepted as well.

        ONE fold serves every batch (``_scd2_splice``): each affected
        key's event timeline is reconstructed from its history rows,
        merged with the batch and re-folded.  For an in-order batch the
        timeline is just the key's OPEN row, so only segments holding an
        open row of a batch key are rewritten (closed history rows never
        change, so a well-maintained table rewrites only its "current"
        tail — the property that keeps SCD2 viable at 100 TB); a
        backfill re-folds each affected key's full chain (deletes
        reappear as the end-sequences no successor row starts at),
        rewriting exactly the segments holding those chains.  Every
        other key's history carries by reference, and the result equals
        what the chain would have been had all events arrived in
        sequence order.  The batch-key range rides the commit for other
        writers' OCC.  CDF emits update_pre/postimages for every
        existing row the fold changed (the closed open row, for an
        in-order batch) and inserts for the new history rows (no
        ``delete`` images — SCD2 never removes rows).  With
        ``txn_app_id`` + ``txn_version`` the apply is
        IDEMPOTENT (``append``'s txnAppId/txnVersion contract) — the
        exactly-once foundation for streaming CDC, where a replayed
        micro-batch would otherwise refuse on its own frontier.  See
        ``cdc_sink``.

        ``track_history_except_columns`` (DLT's ``TRACK HISTORY ON *
        EXCEPT (cols)``): changes confined to the excluded columns never
        open a new history version — consecutive events whose TRACKED
        columns are identical collapse into one row that keeps the FIRST
        event's start (and, when it absorbs the key's existing open row,
        that row's start and row id) while the excluded columns take the
        LAST event's values; CDF emits update pre/post for the in-place
        excluded-column refresh.  Deletes always close regardless of
        exclusions.  Composes with ``allow_backfill`` (r11): the splice
        re-folds each affected key's reconstructed timeline merged with
        the late batch, WITH run collapse — operational semantics: an
        excluded-only event was applied as an in-place refresh (never a
        recorded version), so a backfilled tracked change landing
        inside an absorbed run does not resurrect the run's interior
        boundaries; the result equals the in-order fold over the
        RECORDED timeline plus the batch.

        ``ignore_null_updates=True`` (DLT's option, composed with SCD
        TYPE 2): a NULL column in a non-delete event means "keep the
        previous value" — resolved sequentially per key over the MERGED
        (reconstructed + batch) timeline, so each opened row version
        carries the inherited value at its sequence (seeded by the
        key's open row for an in-order batch; a delete resets the
        chain).  Under ``allow_backfill`` (r12) a spliced event's NULL
        slots inherit from whatever precedes it in TRUE sequence order
        and a recorded-NULL later version picks up a spliced earlier
        value — equal to the in-order fold over the recorded timeline
        plus the batch.  The expectation gate then runs on the resolved
        batch rows, after the frontier guard."""
        self._check_append_only("APPLY CHANGES")
        if any(s.get("always", True)
               for s in self._identity_columns().values()):
            raise ValueError(
                "APPLY CHANGES into a table with GENERATED ALWAYS "
                "IDENTITY columns is not supported (same whole-row "
                "restriction as MERGE); BY DEFAULT identity composes")
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version go together")
        if txn_app_id is not None and \
                self.txn_version_for(txn_app_id) >= txn_version:
            return self.latest_version()  # replayed batch: already applied
        changes, change_type_col = self._apply_as_deletes(
            changes, change_type_col, apply_as_deletes)
        cols = changes.columns
        keys = self._key_list(key)
        for c in (*keys, sequence_by, change_type_col):
            if c not in cols:
                raise ValueError(f"apply_changes_scd2: column {c!r} "
                                 "missing from the change batch")
        exp_commit: dict = {}
        if not ignore_null_updates:
            changes, exp_commit = self._apply_expectations(
                changes, exempt=F.col(change_type_col) == "delete")
        # with IGNORE NULL UPDATES the gate moves AFTER inheritance
        # resolution, inside the splice: a NULL inherit slot evaluates a
        # predicate to NULL and would count a row that RESOLVES to a
        # passing value as a violation (ADVICE r11).  Gating resolved
        # rows is also the stronger write-side contract: a row
        # inheriting a bad value from an earlier (even dropped) event
        # fails the gate itself — every WRITTEN row version passes,
        # whether its values were explicit or inherited.
        for c in (start_col, end_col):
            if c in cols:
                raise ValueError(
                    f"apply_changes_scd2: change batch must not carry "
                    f"the history column {c!r} (the fold assigns it)")
        base_version = self.latest_version()
        _, schema_json = self._snapshot_files()
        target_cols = [f.name for f in T.StructType.fromJson(
            json.loads(schema_json)).fields]
        for c in (start_col, end_col):
            if c not in target_cols:
                raise ValueError(
                    f"apply_changes_scd2: target table lacks the history "
                    f"column {c!r}; create it with {start_col}/{end_col} "
                    "(sequence-typed, end NULL = current)")
        payload_cols = [c for c in target_cols
                        if c not in (start_col, end_col)]
        missing = [c for c in payload_cols if c not in cols]
        if missing:
            raise ValueError(
                f"apply_changes_scd2: change batch lacks target "
                f"column(s) {missing}")
        te = (self._key_list(track_history_except_columns)
              if track_history_except_columns else [])
        if te:
            bad = [c for c in te
                   if c in keys or c in (start_col, end_col)
                   or c not in payload_cols]
            if bad:
                raise ValueError(
                    "track_history_except_columns must name non-key "
                    f"payload columns; bad: {bad}")
            if not [c for c in payload_cols
                    if c not in keys and c not in te
                    and c not in self._identity_columns()]:
                raise ValueError(
                    "track_history_except_columns excludes every "
                    "non-key payload column (identity columns are "
                    "engine-managed and never tracked) — nothing "
                    "would ever open a new history version")
        return self._scd2_splice(
            changes, keys, sequence_by, change_type_col, start_col,
            end_col, payload_cols, target_cols, base_version, txn_app_id,
            txn_version, backfill=allow_backfill, track_except=te,
            extra_commit=exp_commit,
            resolve_null_updates=ignore_null_updates)

    def _scd2_splice(self, changes: DataFrame, keys: list[str],
                     sequence_by: str, change_type_col: str,
                     start_col: str, end_col: str,
                     payload_cols: list[str], target_cols: list[str],
                     base_version: int, txn_app_id: str | None,
                     txn_version: int | None, backfill: bool,
                     track_except: list[str], extra_commit: dict,
                     resolve_null_updates: bool) -> int:
        """The SCD2 fold (see ``_apply_changes_scd2_body`` for the
        contract): splice the batch into each affected key's chain by
        re-folding the key's event timeline merged with the batch.

        The timeline is reconstructed losslessly from the history rows
        themselves: every real row is an upsert event at its
        ``start_col``, every non-NULL ``end_col`` that no same-key row
        starts at is a delete event (normal supersessions chain
        end==next start), and every ZERO-WIDTH tombstone row ``[s, s)``
        — the persisted trace of a delete that closed nothing — is a
        delete event at ``s``.  Batch events merge in by sequence and
        one fold runs: each non-delete event becomes a row ending at the
        next event's sequence (NULL for the last), and deletes that
        close nothing emit tombstones, so the output stays re-foldable.
        The result equals the chain had all events arrived in order.

        Scope.  An in-order batch (``backfill=False``) must pass the
        frontier guard first; then only the key's OPEN row joins the
        timeline (it is the one row a past-frontier batch can change),
        only segments holding such a row are rewritten, and closed
        history — tombstones included — carries by reference.  A
        backfill re-folds the key's FULL chain, rewriting every segment
        that holds one of its rows.

        Cost shape: one guard-and-probe aggregate over the files whose
        key stats could hold a batch key, then one key-shuffle over the
        affected chains plus the batch.  Row tracking: existing history
        rows keep their row ids through the re-fold (they are the same
        logical row versions, even when their end bound moves); only
        genuinely new rows read fresh ids.  GENERATED BY DEFAULT
        identity composes: re-folded existing rows keep their identity
        values (payload carried through the reconstruction), new rows
        with NULL slots are engine-assigned past the high-water mark
        (ids burn, never reuse — a re-emitted tombstone reads a fresh
        id, consistent with the burn contract).  GENERATED ALWAYS was
        already refused at ``apply_changes_scd2`` entry, same as every
        whole-row path."""
        _, schema_json = self._snapshot_files()
        have = {f.name: f.dataType
                for f in T.StructType.fromJson(json.loads(schema_json))}
        seq = F.col(sequence_by).cast(have[start_col])
        with self._pinned() as pin:
            # ONE aggregate over the batch: duplicate (key, sequence)
            # refusal plus per-column key ranges (data skipping and the
            # commit's OCC record)
            aggs = [F.max("count").alias("__per_seq")]
            for k in keys:
                aggs += [F.min(k).alias(f"mn_{k}"),
                         F.max(k).alias(f"mx_{k}")]
            stats = (changes.groupBy(*keys, sequence_by).count()
                     .agg(*aggs).collect()[0])
            if (stats["__per_seq"] or 0) > 1:
                raise ValueError(
                    "apply_changes_scd2: duplicate (key, sequence) in the "
                    "batch — sequencing is ambiguous; deduplicate upstream")
            ranges = [{"column": k, "min": _json_key(stats[f"mn_{k}"]),
                       "max": _json_key(stats[f"mx_{k}"])} for k in keys]
            # one row per batch key, broadcast by every later pass
            firsts = pin(changes.groupBy(*keys)
                         .agg(F.min(seq).alias("__first")))
            kset = firsts.select(*keys)
            # ONE probe over the files whose stats could hold a batch key
            # (plain key equality — NULL keys never match, so the non-NULL
            # bounds prune is sound): per file, does it hold an OPEN row
            # of a batch key, and does a row of a batch key record an
            # event at or past that key's first batch sequence (the
            # frontier guard)?  The frontier is the max EVENT sequence
            # the key's history records — greatest(start, end) per row,
            # not just start: a closed row [1, 5) means an event happened
            # at 5 (the delete or supersession that closed it), so a
            # batch sequenced at 3 would rewrite settled history even
            # though 3 > the start.
            probe = (self._read_active(
                         with_file=True,
                         only=self._key_probe_candidates(ranges))
                     .join(F.broadcast(firsts), keys)
                     .groupBy("_file")
                     .agg(F.max(F.col(end_col).isNull()).alias("__open"),
                          F.max(F.col("__first") <= self._scd2_frontier(
                              start_col, end_col)).alias("__late"))
                     .collect())
            if not backfill and any(r["__late"] for r in probe):
                raise ValueError(
                    "apply_changes_scd2: batch contains a sequence at or "
                    "below an existing history event (a row's start OR "
                    "the end that closed it) — rewriting settled history "
                    "is not supported; sequence new events past the key's "
                    "frontier or use allow_backfill")
            touched = sorted(r["_file"] for r in probe
                             if backfill or r["__open"])
            null_payload = [F.lit(None).cast(have[c]).alias(c)
                            for c in payload_cols if c not in keys]
            events = (changes.filter(F.col(change_type_col) != "delete")
                      .select(*payload_cols, seq.alias("__seq"),
                              F.lit(False).alias("__del"))
                      .unionByName(
                          changes.filter(F.col(change_type_col) == "delete")
                          .select(*keys, *null_payload, seq.alias("__seq"),
                                  F.lit(True).alias("__del"))))
            if resolve_null_updates:
                # mark batch events — reconstructed history events union
                # in below with allowMissingColumns (their __fb reads
                # NULL), so the expectation gate can exempt everything
                # already committed
                events = events.withColumn("__fb", F.lit(True))
            existing = carry = None
            rid: list[str] = []
            if touched:
                seg = self._read_active_tracked(only=touched)
                rid = ["__rid"] if "__rid" in seg.columns else []
                # the rows that join the timeline: a backfill's full
                # chains, an in-order batch's open rows; the rest carries
                # as is (an all-column anti-join would mis-carry NULL
                # payloads — NULL never equals NULL in a join — so scope
                # by end + key)
                in_scope = (F.lit(True) if backfill
                            else F.col(end_col).isNull())
                carry = seg.filter(~in_scope).unionByName(
                    seg.filter(in_scope)
                    .join(F.broadcast(kset), keys, "left_anti"))
                existing = (seg.filter(in_scope)
                            .join(F.broadcast(kset), keys, "left_semi"))
                # zero-width rows [s, s) are TOMBSTONES — the persisted
                # trace of deletes that closed nothing; they read back as
                # delete events (rid carried so the marker row keeps its
                # id through re-folds), never as upserts, and never feed
                # dangling-end detection
                is_tomb = (F.col(end_col).isNotNull()
                           & (F.col(start_col) == F.col(end_col)))
                real = existing.filter(~is_tomb)
                events = events.unionByName(
                    real.select(*payload_cols, F.col(start_col).alias("__seq"),
                                F.lit(False).alias("__del"), *rid),
                    allowMissingColumns=True)
                if backfill:
                    # closed history is in scope only for a backfill: an
                    # end no same-key row starts at is a delete event
                    ends = real.filter(F.col(end_col).isNotNull()).select(
                        *keys, F.col(end_col).alias("__seq"))
                    starts = real.select(*keys,
                                         F.col(start_col).alias("__seq"))
                    events = (
                        events
                        .unionByName(
                            ends.join(starts, [*keys, "__seq"], "left_anti")
                            .select(*keys, *null_payload, "__seq",
                                    F.lit(True).alias("__del")),
                            allowMissingColumns=True)
                        .unionByName(
                            existing.filter(is_tomb)
                            .select(*keys, *null_payload,
                                    F.col(start_col).alias("__seq"),
                                    F.lit(True).alias("__del"), *rid),
                            allowMissingColumns=True))
            # the merged timeline is the splice's bounded working set
            # (affected chains + batch) and feeds several passes (re-fold,
            # rewrite, CDF diff) — pin it, and pin the re-fold input again
            # below if resolution/collapse rebuilt it
            events = pin(events)
            # a (key, sequence) collision needs a backfill: duplicate
            # pairs within the batch were refused above, and the frontier
            # guard proved every in-order batch sequence lies above every
            # existing event of its key
            if backfill and (events.groupBy(*keys, "__seq").count()
                             .filter(F.col("count") > 1).limit(1).count()):
                raise ValueError(
                    "SCD2 backfill: a batch sequence collides with an "
                    "existing event at the same (key, sequence) — splicing "
                    "is ambiguous; re-sequence the backfill batch")
            if resolve_null_updates:
                # IGNORE NULL UPDATES: the NULL-inheritance chain rides the
                # re-fold — resolved over the MERGED timeline (reconstructed
                # history events + the batch) in sequence order, reset by
                # delete events (tombstones reconstruct as deletes, so a
                # post-delete NULL slot inherits nothing), seeded implicitly
                # by each key's earliest event — for an in-order batch, its
                # open row.  Reconstructed events carry
                # their RECORDED payloads — the raw NULL-ness of an
                # already-folded event is not recorded — so the result
                # equals the in-order fold over the RECORDED timeline plus
                # the batch (the same operational semantics TRACK HISTORY
                # EXCEPT × backfill documents); when the pre-splice events
                # carried explicit payloads it equals the true in-order fold
                # of ALL raw events (hypothesis-pinned).  A recorded NULL
                # (no inheritable value existed at fold time) CAN now
                # inherit from a spliced earlier event — exactly what the
                # in-order fold would have produced.  Identity columns are
                # engine-managed and never inherit: each history row is a
                # NEW row, so inheriting the open row's id would duplicate
                # it; NULL identity slots are engine-assigned below.
                ident_cols = set(self._identity_columns())
                inh = [c for c in payload_cols
                       if c not in keys and c not in ident_cols]
                wr = Window.partitionBy(*keys).orderBy("__seq")
                epoch = F.sum(F.col("__del").cast("long")).over(
                    wr.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))
                ev_r = events.withColumn("__epoch", epoch)
                we = (Window.partitionBy(*keys, "__epoch").orderBy("__seq")
                      .rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))
                events = ev_r.select(*[
                    F.last(F.col(c), ignorenulls=True).over(we).alias(c)
                    if c in inh else F.col(c)
                    for c in ev_r.columns if c != "__epoch"])
                if self.expectations():
                    # gate the RESOLVED batch events only — reconstructed
                    # history is committed data and delete events carry
                    # masked payloads; restore the batch's own column names
                    # so predicates referencing the sequence / change-type
                    # columns analyze exactly as at the entry gate
                    restore = []
                    gate = events
                    if sequence_by not in gate.columns:
                        gate = gate.withColumn(sequence_by, F.col("__seq"))
                        restore.append(sequence_by)
                    if change_type_col not in gate.columns:
                        gate = gate.withColumn(
                            change_type_col,
                            F.when(F.col("__del"), F.lit("delete"))
                            .otherwise(F.lit("upsert")))
                        restore.append(change_type_col)
                    gated, exp_commit = self._apply_expectations(
                        gate,
                        exempt=~F.coalesce(F.col("__fb"), F.lit(False))
                        | F.col("__del"))
                    extra_commit = {**extra_commit, **exp_commit}
                    events = gated.drop(*restore) if restore else gated
            w = Window.partitionBy(*keys).orderBy("__seq")
            if track_except:
                # TRACK HISTORY EXCEPT: consecutive events whose TRACKED
                # columns are identical collapse into ONE run — the run's
                # row keeps the FIRST event's start (and row id: an absorbed
                # open row stays the same logical row version) while the
                # EXCLUDED columns take the LAST event's values, so churn
                # confined to excluded columns never opens a new history
                # row.  Deletes always break runs (each is its own run), so
                # closure/tombstone logic below is untouched.
                nonkey = [c for c in payload_cols if c not in keys]
                # identity columns are ENGINE-MANAGED, never user data:
                # batch events carry NULL slots while an absorbed open row
                # carries its assigned value, so including them in the
                # tracked struct would make every run boundary fire
                # (tstruct never equals its lag) and TRACK HISTORY EXCEPT
                # would silently never collapse — mirroring how MERGE
                # treats identity, they are excluded from run detection
                # and a collapsed run keeps its FIRST event's identity
                # (the absorbed open row's value; all-NULL runs are
                # engine-assigned downstream), same as the row id.
                ident = [c for c in nonkey if c in self._identity_columns()]
                tracked = [c for c in nonkey
                           if c not in track_except and c not in ident]
                tstruct = F.struct(*[F.col(c) for c in tracked])
                wrows = w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)
                new_run = F.when(
                    F.lag("__seq").over(w).isNull(), F.lit(True)
                ).otherwise(F.col("__del") | F.lag("__del").over(w)
                            | ~tstruct.eqNullSafe(F.lag(tstruct).over(w)))
                marked = events.withColumn(
                    "__run", F.sum(new_run.cast("long")).over(wrows))
                first_aggs = [F.min_by(F.col(c), F.col("__seq")).alias(c)
                              for c in (*ident, *rid)]
                vcols = [c for c in nonkey if c not in ident]
                events = (marked.groupBy(*keys, "__run")
                          .agg(F.min("__seq").alias("__seq"),
                               F.max("__del").alias("__del"),
                               F.max_by(F.struct(*[F.col(c) for c in vcols]),
                                        F.col("__seq")).alias("__v"),
                               *first_aggs)
                          .select(*[F.col(k) for k in keys],
                                  *[F.col(f"__v.{c}").alias(c)
                                    if c in vcols else F.col(c)
                                    for c in nonkey],
                                  "__seq", "__del", *rid))
            events = pin(events)
            ev = (events
                  .withColumn("__nxt", F.lead("__seq").over(w))
                  .withColumn("__pdel", F.lag("__del").over(w)))
            # each non-delete event becomes the row [seq, next seq); a
            # delete that closes nothing in the re-folded timeline (first
            # event for the key, or preceded by another delete) re-emits
            # as a zero-width tombstone row [seq, seq) — the output stays
            # losslessly re-foldable by the NEXT backfill (delete events
            # already carry NULL payload).  One projection, so both
            # window functions share one key shuffle.
            refolded = (ev.filter(~F.col("__del")
                                  | F.coalesce(F.col("__pdel"), F.lit(True)))
                        .select(*payload_cols,
                                F.col("__seq").alias(start_col),
                                F.when(F.col("__del"), F.col("__seq"))
                                .otherwise(F.col("__nxt")).alias(end_col),
                                *rid))
            # BY DEFAULT identity: NULL slots (spliced batch rows) are
            # engine-assigned BEFORE the carry union so the CDF images below
            # see the stamped values; carried/re-folded rows keep theirs
            refolded, ident_actions = self._assign_identity(refolded, pin)
            merged = (carry.unionByName(refolded, allowMissingColumns=True)
                      if carry is not None else refolded)
            merged = self._apply_generated(merged)
            self._validate_constraints(merged)

            def cdf() -> DataFrame:
                new_plain = refolded.select(*target_cols)
                if existing is None:
                    return (new_plain.filter(
                                F.col(end_col).isNull()
                                | (F.col(start_col) != F.col(end_col)))
                            .withColumn("_change_type", F.lit("insert")))
                # each re-folded row against the existing row it continues
                # (same key and start); existing rows the re-fold dropped
                # (absorbed tombstones or runs) emit no image
                o = existing.select(
                    *[F.col(c).alias(f"o_{c}") for c in target_cols])
                n = new_plain.select(
                    *[F.col(c).alias(f"n_{c}") for c in target_cols])
                jc = F.col(f"o_{start_col}").eqNullSafe(
                    F.col(f"n_{start_col}"))
                for k in keys:
                    jc = jc & F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}"))
                j = n.join(o, jc, "left")
                same = F.lit(True)
                for c in target_cols:
                    same = same & F.col(f"o_{c}").eqNullSafe(
                        F.col(f"n_{c}"))
                changed = j.filter(
                    F.col(f"o_{start_col}").isNotNull() & ~same)
                pre = changed.select(
                    *[F.col(f"o_{c}").alias(c) for c in target_cols]
                ).withColumn("_change_type", F.lit("update_preimage"))
                post = changed.select(
                    *[F.col(f"n_{c}").alias(c) for c in target_cols]
                ).withColumn("_change_type", F.lit("update_postimage"))
                # re-emitted tombstones stay out of the feed (delete
                # traces, not row versions)
                ins = (j.filter(F.col(f"o_{start_col}").isNull())
                       .select(*[F.col(f"n_{c}").alias(c)
                                 for c in target_cols])
                       .filter(F.col(end_col).isNull()
                               | (F.col(start_col) != F.col(end_col)))
                       .withColumn("_change_type", F.lit("insert")))
                return pre.unionByName(post).unionByName(ins)

            return self._commit_rewrite(
                "APPLY CHANGES SCD2 BACKFILL" if backfill
                else "APPLY CHANGES SCD2", base_version, touched, merged, cdf,
                commit=extra_commit, key_ranges=ranges,
                txn=(None if txn_app_id is None
                     else (txn_app_id, txn_version)),
                actions=self._scd2_mark_actions(start_col, end_col,
                                                schema_json)
                + ident_actions)

    def apply_changes_from_snapshot(self, snapshot: DataFrame, key,
                                    snapshot_version,
                                    scd_type: int = 1,
                                    start_col: str = "__START_AT",
                                    end_col: str = "__END_AT",
                                    txn_app_id: str | None = None,
                                    txn_version: int | None = None,
                                    track_history_except_columns=None
                                    ) -> int:
        """The SECOND DLT CDC ingestion mode (``APPLY CHANGES FROM
        SNAPSHOT`` / ``create_auto_cdc_from_snapshot``): most real
        sources cannot emit a change feed — they deliver periodic FULL
        snapshots.  ``snapshot`` is the source's COMPLETE state at
        ``snapshot_version``; this diffs it against the target's
        current state to DERIVE the change events and folds them as one
        atomic commit through the existing machinery
        (``apply_changes`` for SCD1, ``apply_changes_scd2`` for SCD2,
        sequenced at ``snapshot_version``):

        - a key only in the snapshot            → ``insert``
        - a key in both whose payload differs   → ``update_postimage``
        - a key in both, payload identical      → NO event (an SCD2
          target must not open a spurious version; null-safe compare)
        - a key only in the current state       → ``delete`` (absence
          from a full snapshot IS the delete signal — the semantics a
          change feed can't give you without tombstone events)

        Snapshot versions must be MONOTONICALLY increasing (DLT's
        contract): the last applied version rides the fold commit as
        its idempotency marker (txn app ``__snapshot__`` unless the
        caller supplies one), so a REPLAYED snapshot no-ops exactly
        once like a streaming micro-batch, while an OUT-OF-ORDER
        (lower) snapshot refuses loudly — processing it would
        resurrect rows the newer snapshot deleted.

        Scale shape: ONE null-safe full-outer join of the snapshot
        against the current state (open rows only for SCD2 — the
        closed history never participates), shuffled by key; the
        derived event set is persisted so the fold's multiple passes
        don't re-run the diff.  Engine-managed identity columns are
        excluded from the payload comparison (the snapshot either
        doesn't carry them or carries NULLs; existing keys keep their
        assigned values, inserted keys are engine-assigned downstream).

        Reference parity: DLT ``apply_changes_from_snapshot`` with
        ``stored_as_scd_type`` 1|2 and ``track_history_except_column_list``.
        """
        if scd_type not in (1, 2):
            raise ValueError(f"scd_type must be 1 or 2, got {scd_type!r}")
        if track_history_except_columns and scd_type != 2:
            raise ValueError(
                "track_history_except_columns requires scd_type=2 "
                "(type 1 keeps no history to track)")
        keys = self._key_list(key)
        _, schema_json = self._snapshot_files()
        schema = T.StructType.fromJson(json.loads(schema_json))
        target_cols = [f.name for f in schema.fields]
        hist = {start_col, end_col} if scd_type == 2 else set()
        if scd_type == 2:
            lacking = [c for c in (start_col, end_col)
                       if c not in target_cols]
            if lacking:
                raise ValueError(
                    f"apply_changes_from_snapshot: target lacks the SCD2 "
                    f"history column(s) {lacking}")
        idents = set(self._identity_columns())
        payload = [c for c in target_cols if c not in hist]
        data_cols = [c for c in payload if c not in idents]
        scols = set(snapshot.columns)
        missing = [c for c in data_cols if c not in scols]
        if missing:
            raise ValueError(
                f"apply_changes_from_snapshot: snapshot lacks target "
                f"column(s) {missing}")
        bad = [c for c in (start_col, end_col, "_change_type",
                           "__snapshot_seq") if c in scols]
        if bad:
            raise ValueError(
                f"apply_changes_from_snapshot: snapshot must not carry "
                f"engine column(s) {bad}")
        for c in keys:
            if c not in data_cols:
                raise ValueError(
                    f"apply_changes_from_snapshot: key column {c!r} is "
                    "not a snapshot-supplied target column")
        app = "__snapshot__" if txn_app_id is None else txn_app_id
        ver = int(snapshot_version) if txn_version is None \
            else int(txn_version)
        last = self.txn_version_for(app)
        if last == ver:
            return self.latest_version()  # replayed snapshot: no-op
        if last > ver:
            raise ValueError(
                f"apply_changes_from_snapshot: snapshot_version {ver} "
                f"is below the last applied snapshot ({last}) — "
                "snapshots must be monotonically increasing")
        cur = self._read_active()
        if scd_type == 2:
            cur = cur.filter(F.col(end_col).isNull())
        o = cur.select(*[F.col(c).alias(f"o_{c}") for c in payload],
                       F.lit(1).alias("__o"))
        snap_ident = [c for c in idents if c in scols]
        n = snapshot.select(
            *[F.col(c).alias(f"n_{c}") for c in data_cols + snap_ident],
            F.lit(1).alias("__n"))
        jc = F.lit(True)
        for c in keys:
            jc = jc & F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
        j = o.join(n, jc, "full_outer")
        nonkey_data = [c for c in data_cols if c not in keys]
        same = F.lit(True)
        for c in nonkey_data:
            same = same & F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
        ct = (F.when(F.col("__o").isNull(), F.lit("insert"))
              .when(F.col("__n").isNull(), F.lit("delete"))
              .when(same, F.lit(None).cast("string"))
              .otherwise(F.lit("update_postimage")))
        sel = []
        for c in payload:
            if c in keys:
                sel.append(F.coalesce(F.col(f"n_{c}"),
                                      F.col(f"o_{c}")).alias(c))
            elif c in idents:
                # existing keys keep their assigned identity; a
                # snapshot-supplied value (BY DEFAULT) wins if present
                src_ = (F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}"))
                        if c in scols else F.col(f"o_{c}"))
                sel.append(src_.alias(c))
            else:
                sel.append(F.col(f"n_{c}").alias(c))
        events = (j.withColumn("_change_type", ct)
                  .filter(F.col("_change_type").isNotNull())
                  .select(*sel,
                          F.lit(snapshot_version).alias("__snapshot_seq"),
                          "_change_type"))
        # the folds reference the batch several times (dup check, key
        # stats, the window fold); pin the diff so each pass doesn't
        # re-run the full-outer join
        with self._pinned() as pin:
            events = pin(events)
            if scd_type == 2:
                return self.apply_changes_scd2(
                    events, key=key, sequence_by="__snapshot_seq",
                    start_col=start_col, end_col=end_col,
                    txn_app_id=app, txn_version=ver,
                    track_history_except_columns=(
                        track_history_except_columns or None))
            return self.apply_changes(
                events, key=key, sequence_by="__snapshot_seq",
                txn_app_id=app, txn_version=ver)

    def cdc_sink(self, app_id: str, key, sequence_by: str,
                 scd_type: int = 1, apply_as_deletes: str | None = None,
                 ignore_null_updates: bool = False,
                 track_history_except_columns=None):
        """foreachBatch writer applying CDC micro-batches exactly once —
        ``streaming_sink``'s shape for APPLY CHANGES: Structured
        Streaming guarantees at-least-once foreachBatch invocation with
        a deterministic batch_id per epoch; recording it as the
        idempotent txn version turns replays into no-ops, so each change
        batch folds exactly once no matter how often the query restarts.
        ``scd_type`` 1 = highest-sequence-wins upsert fold, 2 = full
        history tracking.  Usage::

            q = (changes.writeStream
                 .foreachBatch(table.cdc_sink("job1", "id", "seq"))
                 .option("checkpointLocation", ckpt).start())
        """
        if scd_type not in (1, 2):
            raise ValueError(f"scd_type must be 1 or 2, got {scd_type!r}")
        if track_history_except_columns and scd_type != 2:
            raise ValueError(
                "track_history_except_columns requires scd_type=2 "
                "(type 1 keeps no history to track)")
        fold = (self.apply_changes if scd_type == 1
                else self.apply_changes_scd2)
        extra: dict = {}
        if ignore_null_updates:
            extra["ignore_null_updates"] = True
        if track_history_except_columns:
            extra["track_history_except_columns"] = \
                track_history_except_columns

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            fold(batch_df, key=key, sequence_by=sequence_by,
                 txn_app_id=app_id, txn_version=int(batch_id),
                 apply_as_deletes=apply_as_deletes, **extra)
        return write_batch

    def snapshot_sink(self, app_id: str, key, scd_type: int = 1,
                      track_history_except_columns=None):
        """foreachBatch writer for SNAPSHOT-mode CDC (the streaming
        face of ``apply_changes_from_snapshot``): each micro-batch is a
        COMPLETE source snapshot — e.g. a periodic full dump landing
        via a file stream — and the deterministic ``batch_id`` is its
        monotonically-increasing snapshot version, so replays no-op
        through the same txn-marker contract as ``cdc_sink``.  Usage::

            q = (snapshots.writeStream
                 .foreachBatch(table.snapshot_sink("job1", "id"))
                 .option("checkpointLocation", ckpt).start())
        """
        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            self.apply_changes_from_snapshot(
                batch_df, key=key, snapshot_version=int(batch_id),
                scd_type=scd_type,
                txn_app_id=app_id, txn_version=int(batch_id),
                track_history_except_columns=track_history_except_columns)
        return write_batch

    def _maybe_auto_compact(self) -> None:
        """``delta.autoOptimize.autoCompact = true``: after an ingest
        commit, if the active-file count reached
        ``txlog.autoCompact.minNumFiles`` (default 16), run a
        compaction — streaming/micro-batch ingest stops accreting small
        files without an external OPTIMIZE scheduler.  The compaction is
        its own OPTIMIZE commit (stream-transparent, OCC'd); skipped
        inside staged transactions."""
        if self._staged is not None:
            return
        props = self.properties()
        if props.get("delta.autoOptimize.autoCompact", "").lower() != "true":
            return
        min_files = int(props.get("txlog.autoCompact.minNumFiles", "16"))
        active, _ = self._snapshot()
        if len(active) >= min_files:
            self.optimize_compact()

    def _maybe_auto_reorg(self) -> None:
        """``txlog.autoReorg.maxDeletedRowsRatio = 0.3``: after a
        DV-writing commit, purge exactly the segments whose tombstone
        density crossed the threshold (one REORG commit, stream/CDF
        transparent) — the managed-maintenance loop a merge-on-read
        table needs at 100 TB, where unbounded DV accumulation turns
        every read into a wide anti-join.  Off unless the property is
        set; skipped inside staged transactions (the REORG would
        commit outside the transaction's snapshot)."""
        if self._staged is not None:
            return
        raw = self.properties().get("txlog.autoReorg.maxDeletedRowsRatio")
        if not raw:
            return
        self.reorg_purge(min_deleted_ratio=float(raw))

    def _check_append_only(self, op: str) -> None:
        """``delta.appendOnly = true`` (Delta's append-only tables):
        row-changing commands are refused — the audit-log / event-stream
        contract where history must be immutable.  Appends, metadata
        DDL, and layout ops (OPTIMIZE/REORG) stay allowed."""
        if self.properties().get("delta.appendOnly", "").lower() == "true":
            raise ValueError(
                f"{op} is not allowed: table property delta.appendOnly "
                "is true (UNSET it first to change existing rows)")

    def _retention_default(self) -> float:
        """Default VACUUM retention: the
        ``delta.deletedFileRetentionDuration`` property ("interval N
        hours"/"N hours") if set, else 24 h (Delta's default)."""
        raw = self.properties().get("delta.deletedFileRetentionDuration")
        if raw:
            m = re.search(r"(\d+(?:\.\d+)?)\s*hour", raw, re.IGNORECASE)
            if m:
                return float(m.group(1)) * 3600.0
            raise ValueError(
                "unsupported delta.deletedFileRetentionDuration "
                f"{raw!r}: use 'interval N hours'")
        return 24 * 3600.0

    def generate_manifest(self, version: int | None = None) -> str:
        """``GENERATE symlink_format_manifest`` (Delta's external-reader
        interop): write ``_symlink_format_manifest/manifest`` listing
        the ABSOLUTE path of every data file active at ``version`` —
        the exact contract Presto/Trino/Athena/DuckDB consume to read a
        snapshot without understanding the log.  Metadata-scale (one
        text line per active file); files carrying deletion vectors are
        REFUSED (a symlink reader would resurrect tombstoned rows —
        same restriction as real Delta, which blocks manifests on
        DV-enabled tables; REORG PURGE first).  Partitioned tables emit
        one manifest per partition dir under the same root (the
        Hive-compatible layout external engines expect).  Returns the
        manifest FILE path for unpartitioned tables, and the manifest
        ROOT directory for partitioned (or empty) tables — the
        per-partition ``grp=a/manifest`` files live under it."""
        active, _, dvs = self._snapshot_full(version)
        if dvs:
            raise ValueError(
                "cannot generate a symlink manifest while files carry "
                f"deletion vectors ({len(dvs)} file(s)) — a symlink "
                "reader would resurrect deleted rows; run REORG TABLE "
                "... APPLY (PURGE) first")
        root = os.path.join(self.path, "_symlink_format_manifest")
        if os.path.isdir(root):
            shutil.rmtree(root)
        by_dir: dict[str, list[str]] = {}
        for p in active:
            ap = os.path.normpath(os.path.join(self.path, p))
            # group by HIVE PARTITION (key=value components), not the
            # physical segment dir: unpartitioned tables get ONE root
            # manifest, partitioned ones one per partition dir
            hive = [c for c in os.path.dirname(p).split(os.sep)
                    if "=" in c]
            by_dir.setdefault(os.sep.join(hive), []).append(ap)
        written: list[str] = []
        for rel_dir, files in by_dir.items():
            d = os.path.join(root, rel_dir) if rel_dir else root
            os.makedirs(d, exist_ok=True)
            mp = os.path.join(d, "manifest")
            with open(mp, "w") as fh:
                fh.write("\n".join(sorted(files)) + "\n")
            written.append(mp)
        # unpartitioned: the single '<root>/manifest' path; partitioned:
        # the manifest ROOT (the per-partition 'grp=a/manifest' files
        # live under it) — returning '<root>/manifest' would name a file
        # that does not exist
        if len(written) == 1 and written[0] == os.path.join(root,
                                                            "manifest"):
            return written[0]
        if not written:  # empty snapshot: an empty root manifest
            os.makedirs(root, exist_ok=True)
            mp = os.path.join(root, "manifest")
            open(mp, "w").close()
            return mp
        return root

    def generate_iceberg_metadata(self, version: int | None = None) -> str:
        """``GENERATE iceberg_metadata`` — UniForm-shape Iceberg interop
        (Delta's ``delta.universalFormat.enabledFormats = iceberg``):
        write/refresh an Iceberg v2 metadata tree (metadata.json +
        manifest-list + manifests under ``<table>/metadata/``) over the
        CURRENT snapshot's parquet files — zero data copies, manifest
        reuse keeps a refresh O(changed files).  DV'd snapshots export
        Iceberg v2 POSITION DELETES (content=1 manifests) so merge-on-
        read tables stay exportable without a forced REORG PURGE.  See
        ``sources/uniform.py`` for layout, determinism, and the
        documented JSON-for-Avro codec deviation.  Returns the new
        metadata.json path."""
        from . import uniform
        return uniform.generate(self, version)

    def enable_uniform(self) -> int:
        """Turn ON per-commit Iceberg metadata refresh (UniForm mode):
        one commit sets ``txlog.uniform.enabled`` and exports the
        current snapshot; every future commit then refreshes the
        Iceberg tree post-commit (best-effort, derived data — a failed
        export never fails the data commit, the next one catches up
        because ``generate`` always exports the LATEST snapshot)."""
        v = self.set_properties({"txlog.uniform.enabled": "true"})
        self._uniform_enabled = True
        self.generate_iceberg_metadata()
        return v

    def _maybe_uniform(self) -> None:
        """Post-commit hook: refresh the Iceberg export when UniForm
        mode is on.  The enabled flag is cached per handle after one
        checkpoint-bounded properties() read, so the common case
        (UniForm off) costs nothing on the commit path.  A cached FALSE
        expires after one checkpoint interval of commits (re-resolved
        from properties), so a long-lived writer handle opened before
        another handle ran enable_uniform() starts refreshing within a
        bounded number of commits instead of silently diverging the
        exported metadata forever (ADVICE r13); set_properties on THIS
        handle still invalidates immediately."""
        enabled = getattr(self, "_uniform_enabled", None)
        if enabled is False:
            stale_after = max(1, self.checkpoint_interval)
            if self.latest_version() - \
                    getattr(self, "_uniform_checked_v", -1) >= stale_after:
                enabled = None  # cache expired: re-resolve below
        if enabled is None:
            try:
                enabled = self.properties().get(
                    "txlog.uniform.enabled", "").lower() == "true"
            except Exception:
                enabled = False
            self._uniform_enabled = enabled
            self._uniform_checked_v = self.latest_version()
        if not enabled:
            return
        try:
            self.generate_iceberg_metadata()
        except Exception:
            pass  # best-effort derived data; next commit catches up

    def detail(self) -> dict:
        """Table detail (Delta's ``DESCRIBE DETAIL`` shape): location,
        snapshot version, file count, total data bytes, partition
        columns, protocol, and feature flags.  Driver-side metadata fold
        — data files are stat'd, never opened."""
        active, _ = self._snapshot()
        size = 0
        for p in active:
            try:
                size += os.path.getsize(
                    os.path.normpath(os.path.join(self.path, p)))
            except OSError:
                pass  # cloned-in or missing file: size best-effort
        meta = self._meta_state()
        return {
            "location": os.path.abspath(self.path),
            "version": self.latest_version(),
            "numFiles": len(active),
            "sizeInBytes": size,
            "partitionColumns": meta.get("partitionColumns", []),
            "clusteringColumns": meta.get("clusteringColumns", []),
            "columnMappingMode": meta.get("columnMappingMode", "name"),
            "protocol": self.protocol(),
            "enableCdf": bool(self.enable_cdf),
            "rowTracking": bool(meta.get("rowTracking")),
            "tableFeatures": sorted(
                set(self.protocol().get("readerFeatures", []))
                | set(self.protocol().get("writerFeatures", []))),
        }

    def repair(self, dry_run: bool = True) -> list[str]:
        """FSCK REPAIR TABLE: find active entries whose data file is
        MISSING on storage (out-of-band deletion, partial restore) and —
        unless ``dry_run`` — commit removes for them so reads stop
        failing on ghosts.  Returns the missing table-relative paths.
        Lossy by definition (the rows are already gone); that is why
        dry_run is the default, exactly like Delta's FSCK."""
        active, _ = self._snapshot()
        missing = [
            p for p in active
            if not os.path.exists(
                os.path.normpath(os.path.join(self.path, p)))
        ]
        if missing and not dry_run:
            base_version = self.latest_version()
            actions = (
                [{"commit": {"op": "FSCK", "ts": self._next_ts(),
                             "filesRemoved": len(missing)}}]
                + [{"remove": {"path": p}} for p in missing]
            )
            self._commit_with_occ(actions, [], base_version)
        return missing

    def vacuum(self, retention_seconds: float | None = None,
               dry_run: bool = False, lite: bool = False) -> list[str]:
        """Physically delete data files no longer referenced by the LATEST
        snapshot AND older than ``retention_seconds`` (mtime).  The
        retention window is the concurrent-writer guard (same as real
        Delta VACUUM): a writer stages its segments BEFORE its commit
        claims a version, so a freshly written unreferenced file may be an
        in-flight commit, not garbage — only age proves abandonment.
        ``retention_seconds=0`` skips the guard (single-writer only).

        Irreversible: time travel to versions that needed the removed
        segments stops working (real VACUUM semantics — the retention
        tradeoff is the caller's).  The commit log itself is kept (it is
        the audit trail and stays tiny), and change-data parquet under
        ``_change_data/`` is kept too (it IS the audit trail's row
        payload).  Deletion-vector sidecars retired from the LATEST
        snapshot are collected under the same age guard.  Returns the
        deleted table-relative paths.  ``dry_run=True`` (Delta's VACUUM
        DRY RUN) returns the would-be-deleted list and touches
        NOTHING — the operator's answer to "what am I about to lose"
        before an irreversible collection.

        ``lite=True`` is Delta's VACUUM LITE: candidates come from the
        LOG's ``remove`` actions instead of a filesystem walk.  At
        100 TB the recursive listing is the vacuum bottleneck (millions
        of LIST calls on an object store); LITE replays the tiny JSON
        log instead — O(commits), zero listing.  The age guard uses the
        REMOVING commit's in-commit timestamp (the moment the file
        became garbage — Delta's ``remove.deletionTimestamp``), which is
        strictly safer than mtime for the concurrent-writer window.
        Tradeoff (same as Delta): LITE never sees files no commit ever
        referenced (aborted writers' orphans) — run a full VACUUM
        occasionally to catch those."""
        live, _, live_dvs = self._snapshot_full()
        live_set = {os.path.normpath(os.path.join(self.path, p))
                    for p in live}
        live_dv_set = {os.path.normpath(os.path.join(self.path, d))
                       for dvlist in live_dvs.values() for d in dvlist}
        # UniForm coupling (VERDICT r13 item 1): files a RETAINED
        # exported Iceberg snapshot still references are NOT garbage —
        # an Iceberg-side reader time-traveling to that snapshot would
        # hit missing files with no protocol-level error.  They join
        # the protected set; uniform.expire_snapshots is the sanctioned
        # way to release them (expire-then-vacuum, real UniForm's
        # maintenance order).  Tables never exported pay nothing (one
        # version-hint stat).
        from . import uniform as _uniform
        live_set |= _uniform.referenced_data_files(self.path)
        if retention_seconds is None:
            # table property delta.deletedFileRetentionDuration, else 24 h
            retention_seconds = self._retention_default()
        cutoff = time.time() - retention_seconds
        removed = []
        if lite:
            cutoff_ms = cutoff * 1000.0
            # one log replay: every removed data path with the ts of the
            # commit that removed it (last remove wins), plus each DV
            # sidecar's target set so retired sidecars collect too
            removes: dict[str, int] = {}
            dv_targets: dict[str, set[str]] = {}
            for i in range(self.latest_version() + 1):
                ts = -1
                acts = self._read_commit(i)
                for a in acts:
                    if "commit" in a:
                        ts = int(a["commit"].get("ts", -1))
                for a in acts:
                    if "remove" in a:
                        removes[a["remove"]["path"]] = ts
                    elif "dvAdd" in a:
                        dv_targets.setdefault(
                            a["dvAdd"]["path"],
                            set()).update(a["dvAdd"]["targets"])
            for p, ts in sorted(removes.items()):
                fp = os.path.normpath(os.path.join(self.path, p))
                if fp in live_set or ts > cutoff_ms:
                    continue  # re-added later, or still in retention
                if not os.path.exists(fp):
                    continue  # already collected by an earlier run
                if not dry_run:
                    os.remove(fp)
                removed.append(p)
            for s, targets in sorted(dv_targets.items()):
                sp = os.path.normpath(os.path.join(self.path, s))
                if sp in live_dv_set or not os.path.exists(sp):
                    continue
                # retired when every target is gone; garbage since the
                # LAST target's removal
                ts = max((removes.get(t, -1) for t in targets),
                         default=-1)
                if any(t not in removes for t in targets) or ts > cutoff_ms:
                    continue
                if not dry_run:
                    if os.path.isdir(sp):
                        shutil.rmtree(sp)
                    else:
                        os.remove(sp)
                removed.append(s)
            return removed
        # root-level parquet (adopted by CONVERT, later de-listed by a
        # rewrite) is collected under the same liveness + age guard
        for f in sorted(os.listdir(self.path)):
            fp = os.path.normpath(os.path.join(self.path, f))
            if (f.endswith(".parquet") and os.path.isfile(fp)
                    and fp not in live_set
                    and os.path.getmtime(fp) <= cutoff):
                if not dry_run:
                    os.remove(fp)
                removed.append(f)
        for sub in sorted(os.listdir(self.path)):
            # unpartitioned segment dirs (data-*), Hive partition dirs
            # (col=value), and the deep-clone foreign-segment landing
            # (imported/) all hold data parquet
            if not (sub.startswith("data-") or "=" in sub
                    or sub == "imported"):
                continue
            seg_dir = os.path.join(self.path, sub)
            if not os.path.isdir(seg_dir):
                continue
            for f in sorted(os.listdir(seg_dir)):
                fp = os.path.normpath(os.path.join(seg_dir, f))
                if (f.endswith(".parquet") and fp not in live_set
                        and os.path.getmtime(fp) <= cutoff):
                    if not dry_run:
                        os.remove(fp)
                    removed.append(os.path.relpath(fp, self.path))
            # only bookkeeping files (_SUCCESS, .crc) left → drop the dir
            if not dry_run and not any(n.endswith(".parquet")
                                       for n in os.listdir(seg_dir)):
                shutil.rmtree(seg_dir)
        dv_root = os.path.join(self.path, "_deletion_vectors")
        if os.path.isdir(dv_root):
            for sub in sorted(os.listdir(dv_root)):
                dv_dir = os.path.normpath(os.path.join(dv_root, sub))
                if dv_dir in live_dv_set:
                    continue
                if os.path.getmtime(dv_dir) > cutoff:
                    continue
                if not dry_run:
                    # Spark-written sidecars are directories; clone-
                    # rewritten ones are single parquet files
                    if os.path.isdir(dv_dir):
                        shutil.rmtree(dv_dir)
                    else:
                        os.remove(dv_dir)
                removed.append(os.path.relpath(dv_dir, self.path))
        return removed

    def read_changes(self, start_version: int = 0,
                     end_version: int | None = None) -> DataFrame:
        """Change Data Feed: the row-level changes committed in versions
        ``[start_version, end_version]`` as one DataFrame with
        ``_change_type`` (insert / update_preimage / update_postimage /
        delete) and ``_commit_version`` columns — Delta CDF's read shape.

        Appends/creates need no stored change data: their change rows ARE
        the segments the commit added (read directly, typed ``insert``).
        OPTIMIZE commits are layout-only and contribute nothing.  MERGE/
        DELETE commits serve the change parquet persisted at commit time;
        asking for one that ran with ``enable_cdf=False`` raises (the
        preimages are unrecoverable — exactly Delta's behavior when CDF
        was off).  Incremental consumers (downstream training-data
        refresh at 100 TB) read only the delta, never rescan the table.

        Every frame is served under the LOGICAL schema at ``end``
        (ADVICE r7): data segments store stable PHYSICAL column names,
        while CDF sidecars store the logical names AS OF the commit that
        wrote them — after RENAME COLUMN the two differ, and without the
        per-version translation the union would silently widen the
        schema and NULL the renamed column."""
        latest = self.latest_version()
        end = latest if end_version is None else end_version
        if end > latest or start_version < 0 or start_version > end:
            raise ValueError(
                f"change range [{start_version}, {end}] out of bounds "
                f"[0, {latest}]")
        earliest = self._earliest_version()
        if start_version < earliest:
            raise ValueError(
                f"change range [{start_version}, {end}] starts below "
                "the retained log — metadata cleanup "
                "(delta.logRetentionDuration) removed commits below "
                f"{earliest}; start the CDF read there or later")
        end_map = self._column_mapping(end)
        add_renames = {p: c for c, p in end_map.items() if p != c}
        # The log is the schema authority: every frame below reads with
        # an EXPLICIT requested schema tracked through the range (seeded
        # at start, advanced by each commit's metaData — exactly like
        # ``at_v_map``) instead of mergeSchema, which launches a
        # footer-merging Spark job over the frame's files at plan time —
        # O(active-ish files) I/O per commit in the fold range, the same
        # class of scale-killer the r14 snapshot-read rewrite removed
        # (guide §6).  Sidecars store logical-as-of-v names +
        # ``_change_type``; add segments store physical names (an
        # evolution commit writes its NEW column under the LOGICAL name,
        # so those request BOTH and coalesce, mirroring
        # ``_read_active``).  Partitioned tables keep the mergeSchema
        # read: their add paths rely on partition-directory inference,
        # which an explicit flat schema would bypass.
        _explicit = not self._partition_columns()
        schema_at_v = self._snapshot(start_version)[1]

        def _schema_fields_at_v() -> list:
            return T.StructType.fromJson(json.loads(schema_at_v)).fields

        def read_cdf_files(paths: list[str]) -> DataFrame:
            if not (_explicit and schema_at_v):
                return (self.spark.read.option("mergeSchema", "true")
                        .parquet(*paths))
            fields = [T.StructField(f.name, f.dataType, True)
                      for f in _schema_fields_at_v()]
            fields.append(T.StructField("_change_type", T.StringType(),
                                        True))
            return (self.spark.read.schema(T.StructType(fields))
                    .parquet(*paths))

        def read_add_files(paths: list[str]) -> DataFrame:
            if not (_explicit and schema_at_v):
                return (self.spark.read.option("mergeSchema", "true")
                        .parquet(*paths))
            req: list[T.StructField] = []
            alias_pairs: list[tuple[str, str]] = []
            for f in _schema_fields_at_v():
                phys = at_v_map.get(f.name, f.name)
                req.append(T.StructField(phys, f.dataType, True))
                if phys != f.name:
                    req.append(T.StructField(f.name, f.dataType, True))
                    alias_pairs.append((f.name, phys))
            df = (self.spark.read.schema(T.StructType(req))
                  .parquet(*paths))
            for logical, phys in alias_pairs:
                df = (df.withColumn(
                          phys, F.coalesce(F.col(phys), F.col(logical)))
                      .drop(logical))
            return df

        def adds_to_logical(df: DataFrame) -> DataFrame:
            """Physical (segment) names -> logical-at-end names."""
            ren = {p: c for p, c in add_renames.items() if p in df.columns}
            return df.withColumnsRenamed(ren) if ren else df

        def cdf_to_logical(df: DataFrame, at_v_map: dict) -> DataFrame:
            """Logical-as-of-v (sidecar) names -> logical-at-end names."""
            inv = {p: l for l, p in at_v_map.items()}
            ren = {}
            for c, p in end_map.items():
                lv = inv.get(p, p)
                if lv != c and lv in df.columns:
                    ren[lv] = c
            return df.withColumnsRenamed(ren) if ren else df
        def txn_step_frames(actions: list[dict], v: int,
                            at_v_map: dict) -> list[DataFrame]:
            """Per-statement change frames of a TXN commit: the flattened
            actions are grouped by their txnStep marker, so each
            statement serves its OWN cdf (rewrites) or synthesizes
            inserts from its OWN adds (appends).  A flat scan would
            misread a mixed txn — e.g. serve a DELETE's cdf while
            dropping a sibling APPEND's inserts, or mistake rewrite
            survivors for inserts."""
            groups: list[dict] = []
            cur: dict | None = None
            for a in actions:
                if "txnStep" in a:
                    cur = {"op": a["txnStep"].get("op"),
                           "adds": [], "cdf": []}
                    groups.append(cur)
                elif cur is None:
                    continue
                elif "add" in a:
                    cur["adds"].append(a["add"]["path"])
                elif "cdf" in a:
                    cur["cdf"].append(a["cdf"]["path"])
            frames: list[DataFrame] = []
            for g in groups:
                if g["cdf"]:
                    frames.append(cdf_to_logical(
                        read_cdf_files([os.path.join(self.path, p)
                                        for p in g["cdf"]]), at_v_map))
                elif g["op"] in ("CREATE", "APPEND", "CONVERT",
                                 "COPY INTO"):
                    if g["adds"]:
                        frames.append(adds_to_logical(
                            read_add_files([os.path.join(self.path, p)
                                            for p in g["adds"]]))
                            .withColumn("_change_type", F.lit("insert")))
                elif g["op"] in ("OPTIMIZE", "REORG", "ADD CONSTRAINT",
                                 "DROP CONSTRAINT", "RENAME COLUMN",
                                 "ADD COLUMN", "DROP COLUMN", "CLONE",
                                 "SET TBLPROPERTIES", "ALTER COLUMN",
                                 "SET DEFAULT", "DROP DEFAULT",
                                 "CLUSTER BY", "SET ROW TRACKING", "ADD FEATURE"):
                    continue  # layout/metadata only
                else:
                    raise ValueError(
                        f"statement {g['op']!r} in TXN commit {v} "
                        "carries no change data — it ran with "
                        "enable_cdf=False; preimages cannot be "
                        "reconstructed after the fact")
            return frames

        parts: list[DataFrame] = []
        at_v_map = self._column_mapping(start_version)
        for v in range(start_version, end + 1):
            actions = self._read_commit(v)
            # a commit's own metaData applies to its own change rows
            # (id-mode schema evolution writes new logical names in the
            # same commit that introduces their mapping entries)
            for a in actions:
                md = a.get("metaData")
                if md and "columnMapping" in md:
                    at_v_map = md["columnMapping"]
                if md and md.get("schemaJson"):
                    schema_at_v = md["schemaJson"]
            op = next((a["commit"]["op"] for a in actions if "commit" in a),
                      None)
            if op == "TXN":
                parts.extend(
                    df.withColumn("_commit_version", F.lit(v).cast("int"))
                    for df in txn_step_frames(actions, v, at_v_map))
                continue
            cdf = [a["cdf"]["path"] for a in actions if "cdf" in a]
            if cdf:
                df = cdf_to_logical(
                    read_cdf_files([os.path.join(self.path, p)
                                    for p in cdf]),
                    at_v_map)
            elif op in ("CREATE", "APPEND", "CONVERT", "COPY INTO"):
                adds = [a["add"]["path"] for a in actions if "add" in a]
                if not adds:
                    continue
                df = (adds_to_logical(
                    read_add_files([os.path.join(self.path, p)
                                    for p in adds]))
                    .withColumn("_change_type", F.lit("insert")))
            elif op in ("OPTIMIZE", "REORG", "ADD CONSTRAINT",
                        "DROP CONSTRAINT", "RENAME COLUMN", "ADD COLUMN",
                        "DROP COLUMN", "CLONE", "SET TBLPROPERTIES",
                        "ALTER COLUMN", "SET DEFAULT", "DROP DEFAULT",
                        "CLUSTER BY", "SET ROW TRACKING", "ADD FEATURE"):
                continue  # layout/metadata only: no row-level changes
            else:
                raise ValueError(
                    f"commit {v} ({op}) carries no change data — it ran "
                    "with enable_cdf=False; preimages cannot be "
                    "reconstructed after the fact")
            parts.append(df.withColumn("_commit_version",
                                       F.lit(v).cast("int")))
        if not parts:
            _, schema_json = self._snapshot(end)
            schema = T.StructType.fromJson(json.loads(schema_json))
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField("_change_type", T.StringType(), False),
                   T.StructField("_commit_version", T.IntegerType(), False)])
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def count_rows(self, version: int | None = None) -> tuple[int, bool]:
        """COUNT(*) without touching data: sum the per-file ``numRecords``
        recorded in add-action stats, minus outstanding deletion-vector
        tombstones (their (file, position) pairs are exact and disjoint
        across stacked DVs — each DV is computed against the DV-applied
        snapshot, so a position is never tombstoned twice).  Returns
        (count, metadata_only).  Falls back to a real scan — correct,
        just not free — when any active file lacks stats (pre-stats
        commits).  DV sidecars are read driver-side with pyarrow: they
        are tombstone-sized, not data-sized.  At 100 TB this turns the
        most common query in any pipeline (`SELECT COUNT(*)`) from a
        table scan into an O(files) metadata fold — the same trick real
        Delta and parquet footers give engines for free."""
        self._assert_readable(version)
        active, _, dvs = self._snapshot_full(version)
        total = 0
        for p, stats in active.items():
            n = (stats or {}).get("numRecords")
            if n is None:
                return self._read_active(version).count(), False
            total += int(n)
        live_dv_paths = sorted({d for p in active for d in dvs.get(p, [])})
        if live_dv_paths:
            import pyarrow.dataset as _ds
            dv_tbl = _ds.dataset(
                [os.path.join(self.path, d, f)
                 for d in live_dv_paths
                 for f in sorted(os.listdir(os.path.join(self.path, d)))
                 if f.endswith(".parquet")]).to_table(
                columns=["path", "row_index"])
            active_set = set(active)
            paths = dv_tbl.column("path").to_pylist()
            rows = dv_tbl.column("row_index").to_pylist()
            tombstones = {(p, r) for p, r in zip(paths, rows)
                          if p in active_set}
            total -= len(tombstones)
        return total, True

    def history(self) -> list[dict]:
        """Commit metadata rows, oldest first."""
        out = []
        for i in range(self._earliest_version(),
                       self.latest_version() + 1):
            for action in self._read_commit(i):
                if "commit" in action:
                    out.append({"version": i, **action["commit"]})
        return out
