"""Transaction-log table format (sources/txlog.py): ACID semantics the
oracled queries can't see — copy-on-write file pruning, OCC conflicts,
delete, history, empty-snapshot schema."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_database_for_sql_spark.sources.txlog import TxLogTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, grp string, v int")


def test_create_append_read(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.append(_df(spark, [(3, "a", 30)]))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    assert t.latest_version() == 1


def test_merge_updates_inserts_and_preserves(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(2, "b", 99), (5, "c", 50)]), "k")
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 99), (5, "c", 50)]


def test_merge_rewrites_only_touched_segments(spark, tdir):
    # Two appends land in separate segment dirs; merging a key from the
    # second must leave the first commit's files live in the snapshot.
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    files_before, _ = t._snapshot_files()
    t.merge_upsert(_df(spark, [(2, "b", 99)]), "k")
    files_after, _ = t._snapshot_files()
    seg1 = [f for f in files_before if "/data-" in f][0]
    assert seg1 in files_after, "untouched segment must carry over by reference"
    hist = t.history()
    assert hist[-1]["op"] == "MERGE" and hist[-1]["filesRewritten"] >= 1


def test_time_travel_returns_exact_old_snapshot(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(1, "a", 11)]), "k")
    v0 = sorted(tuple(r) for r in t.read(version=0).collect())
    v1 = sorted(tuple(r) for r in t.read().collect())
    assert v0 == [(1, "a", 10), (2, "b", 20)]
    assert v1 == [(1, "a", 11), (2, "b", 20)]


def test_delete_where(spark, tdir):
    t = TxLogTable.create(
        spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]))
    t.delete_where(F.col("grp") == "a")
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(2, "b", 20)]
    # deleted rows remain visible at the old version
    assert len(t.read(version=0).collect()) == 3


def test_commit_claim_is_exclusive(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    # Simulate a racing writer that claimed version 1 first.
    assert t._try_commit(1, [{"commit": {"op": "APPEND"}}]) is True
    assert t._try_commit(1, [{"commit": {"op": "APPEND"}}]) is False
    # A real append retries and lands on version 2.
    v = t.append(_df(spark, [(2, "b", 20)]))
    assert v == 2


def test_create_refuses_existing_without_overwrite(spark, tdir):
    TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    with pytest.raises(FileExistsError):
        TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t = TxLogTable.create(spark, tdir, _df(spark, [(9, "z", 90)]),
                          overwrite=True)
    assert [tuple(r) for r in t.read().collect()] == [(9, "z", 90)]


def test_version_bounds(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError):
        t.read(version=5)
    with pytest.raises(FileNotFoundError):
        TxLogTable(spark, tdir + "_missing").read()


def test_streaming_foreachbatch_merge_upsert(spark, tdir, tmp_path):
    """The lakehouse streaming pattern: a stream drained through
    foreachBatch, each micro-batch MERGEd into the txlog table — batches
    re-keying the same id must upsert, not duplicate, and every batch is
    one auditable commit."""
    import pandas as pd

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 0), (2, "b", 0)]))

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    # Two micro-batch files: batch 1 updates k=1 and inserts k=3; batch 2
    # re-updates k=1 (same key twice across batches -> last write wins).
    pd.DataFrame([{"k": 1, "grp": "a", "v": 10},
                  {"k": 3, "grp": "c", "v": 30}]).to_json(
        src_dir / "b1.json", orient="records", lines=True)

    stream = (spark.readStream.schema("k int, grp string, v int")
              .option("maxFilesPerTrigger", "1")
              .json(str(src_dir)))

    def apply_batch(df, batch_id):
        if df.isEmpty():
            return
        t.merge_upsert(df, "k")

    q = (stream.writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    pd.DataFrame([{"k": 1, "grp": "a", "v": 99}]).to_json(
        src_dir / "b2.json", orient="records", lines=True)
    q2 = (stream.writeStream.foreachBatch(apply_batch)
          .option("checkpointLocation", str(tmp_path / "ckpt"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)

    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 99), (2, "b", 0), (3, "c", 30)]
    ops = [h["op"] for h in t.history()]
    assert ops[0] == "CREATE" and ops.count("MERGE") >= 2


def test_optimize_compact_preserves_data_and_enables_time_travel(spark, tdir):
    rows = [(i, "g", i * 10) for i in range(20)]
    t = TxLogTable.create(spark, tdir, _df(spark, rows).repartition(5))
    t.append(_df(spark, [(100, "h", 1)]).repartition(3))
    before = sorted(tuple(r) for r in t.read().collect())
    v = t.optimize_compact(target_segments=2)
    after = sorted(tuple(r) for r in t.read().collect())
    assert after == before, "compaction must not change data"
    files, _ = t._snapshot_files()
    assert len(files) == 2
    # pre-compaction layout still reachable by version (Spark may skip
    # empty partitions on write, so assert "many small", not an exact count)
    old_files, _ = t._snapshot_files(version=v - 1)
    assert len(old_files) > 2
    assert t.history()[-1]["op"] == "OPTIMIZE"


def test_schema_evolution_on_append(spark, tdir):
    """An append that adds a column must read back with NULL backfill for
    older segments (mergeSchema path — the additive evolution contract)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(spark.createDataFrame([(2, "b", 20, 99)],
                                   "k int, grp string, v int, extra int"))
    rows = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert rows == {1: (10, None), 2: (20, 99)}


def test_vacuum_deletes_only_unreferenced_segments(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(1, "a", 11)]), "k")
    live_before = sorted(tuple(r) for r in t.read().collect())
    # retention=0: explicit single-writer opt-out of the age guard
    removed = t.vacuum(retention_seconds=0)
    assert removed, "the rewritten pre-merge segment should be deleted"
    # latest snapshot unaffected
    assert sorted(tuple(r) for r in t.read().collect()) == live_before
    # time travel to the vacuumed version now fails at read time
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read(version=0).collect()
    # history (audit log) survives vacuum
    assert t.history()[0]["op"] == "CREATE"


def test_delete_where_keeps_null_predicate_rows(spark, tdir):
    """SQL DELETE semantics: rows where the predicate evaluates NULL must
    SURVIVE (a bare ~condition would silently drop them)."""
    rows = [(1, "a", 10), (2, "b", None), (3, "a", 10)]
    t = TxLogTable.create(spark, tdir, _df(spark, rows))
    t.delete_where(F.col("v") == 10)
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(2, None)]


def test_torn_commit_tmp_is_invisible(spark, tdir):
    """A writer killed mid-commit leaves only a .tmp file, which neither
    latest_version() nor snapshot replay can see — readers never observe
    a half-written commit."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    # simulate the torn write: partial content under the tmp name
    with open(os.path.join(t.log_dir, ".tmp-00000001-dead"), "w") as f:
        f.write('{"commit": {"op": "APPEND"')  # truncated JSON
    assert t.latest_version() == 0
    assert [tuple(r) for r in t.read().collect()] == [(1, "a", 10)]
    # the next real commit is unaffected
    assert t.append(_df(spark, [(2, "b", 20)])) == 1


def test_occ_conflict_on_concurrent_remove_raises(spark, tdir):
    """A writer whose planned removals were already removed by a
    concurrent commit must raise instead of blindly re-committing stale
    actions (which would resurrect deleted rows)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    files, _ = t._snapshot_files()
    seg = os.path.relpath(files[0], t.path)
    # a racing winner claims version 1 and removes the segment
    assert t._try_commit(1, [{"commit": {"op": "DELETE"}},
                             {"remove": {"path": seg}}])
    # our stale writer computed actions against version 0 and also wants
    # to remove that segment; its claim of version 1 fails -> conflict
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t._commit_with_occ(
            [{"commit": {"op": "MERGE"}}, {"remove": {"path": seg}}],
            removed=[seg], base_version=0)


def test_merge_on_schema_evolved_table(spark, tdir):
    """MERGE touching a pre-evolution segment must preserve the evolved
    column (mergeSchema read + allowMissingColumns union)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(spark.createDataFrame([(2, "b", 20, 99)],
                                   "k int, grp string, v int, extra int"))
    t.merge_upsert(spark.createDataFrame([(2, "b", 21, 100)],
                                         "k int, grp string, v int, extra int"),
                   "k")
    rows = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert rows == {1: (10, None), 2: (21, 100)}


def test_vacuum_retention_spares_fresh_unreferenced_files(spark, tdir):
    """Default vacuum must NOT delete freshly written unreferenced files:
    a concurrent writer stages segments before its commit claims a
    version, so a young unreferenced file may be an in-flight commit."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.merge_upsert(_df(spark, [(1, "a", 11)]), "k")
    assert t.vacuum() == [], "fresh files are inside the retention window"
    # time travel still works because nothing was deleted
    assert [tuple(r) for r in t.read(version=0).collect()] == [(1, "a", 10)]


def test_checkpoint_bounds_replay_and_keeps_time_travel_exact(spark, tdir):
    """VERDICT r5 item 2: a many-commit table must resolve its snapshot
    from the last checkpoint + a bounded commit suffix, not by replaying
    the whole log — and time travel (before AND after the checkpoint)
    must stay value-exact."""
    t = TxLogTable(spark, tdir, checkpoint_interval=5)
    t2 = TxLogTable.create(spark, tdir, _df(spark, [(0, "a", 0)]))
    assert t2.checkpoint_interval == 10  # default untouched
    for i in range(1, 13):
        t.append(_df(spark, [(i, "a", i)]))
    assert t.latest_version() == 12
    import os as _os
    names = set(_os.listdir(t.log_dir))
    assert "00000005.checkpoint.json" in names
    assert "00000010.checkpoint.json" in names
    assert "_last_checkpoint" in names
    # replay suffix is bounded: resolving v12 reads commits 11..12 only
    calls = []
    orig = t._read_commit
    t._read_commit = lambda v: (calls.append(v), orig(v))[1]
    files, _ = t._snapshot_files()
    assert set(calls) == {11, 12}, f"expected suffix-only replay, got {calls}"
    t._read_commit = orig
    assert files  # value-exactness asserted by the reads below
    # time travel before the first checkpoint (full replay) and between
    # checkpoints both return exact prefixes
    assert sorted(r.k for r in t.read(version=3).collect()) == [0, 1, 2, 3]
    assert sorted(r.k for r in t.read(version=7).collect()) == list(range(8))
    assert sorted(r.k for r in t.read().collect()) == list(range(13))


def test_checkpoint_resolution_survives_missing_pointer(spark, tdir):
    """_last_checkpoint and the manifests are derived data: deleting them
    must only lengthen replay, never change results."""
    t = TxLogTable(spark, tdir, checkpoint_interval=3)
    TxLogTable.create(spark, tdir, _df(spark, [(0, "a", 0)]))
    for i in range(1, 8):
        t.append(_df(spark, [(i, "a", i)]))
    import os as _os
    _os.remove(_os.path.join(t.log_dir, "_last_checkpoint"))
    assert sorted(r.k for r in t.read().collect()) == list(range(8))
    for p in list(_os.listdir(t.log_dir)):
        if p.endswith(".checkpoint.json"):
            _os.remove(_os.path.join(t.log_dir, p))
    assert sorted(r.k for r in t.read().collect()) == list(range(8))


def test_merge_duplicate_source_keys_raises(spark, tdir):
    """Delta MERGE parity: two source rows hitting the same key is
    ambiguous and must raise, not silently insert both."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(_df(spark, [(1, "a", 11), (1, "a", 12)]), "k")
    # table unchanged — the failed merge committed nothing
    assert [tuple(r) for r in t.read().collect()] == [(1, "a", 10)]
    assert t.latest_version() == 0


def test_two_writer_overlapping_merge_conflict(spark, tdir):
    """VERDICT r5 item 5: two concurrent insert-arm MERGEs of the same key
    remove no common segment, so the r5 OCC (file-based only) let both
    commit — silently duplicating the key.  The recorded key ranges must
    now turn the second commit into a raised conflict."""
    t_a = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t_b = TxLogTable(spark, tdir)
    upd_a = _df(spark, [(7, "a", 70)])   # insert arm: key 7 not in base
    upd_b = _df(spark, [(7, "b", 77)])   # same key, concurrent writer

    # Interleave: writer A lands AFTER B has planned (read its snapshot /
    # base version) but BEFORE B commits — the classic write-skew window.
    real_write = t_b._write_segments
    raced = {"done": False}

    def write_then_race(df):
        rel = real_write(df)
        if not raced["done"]:
            raced["done"] = True
            t_a.merge_upsert(upd_a, "k")
        return rel

    t_b._write_segments = write_then_race
    with pytest.raises(RuntimeError, match="key range"):
        t_b.merge_upsert(upd_b, "k")
    # no duplicate key: only writer A's row for k=7 exists
    rows = sorted(tuple(r) for r in t_a.read().collect())
    assert rows == [(1, "a", 10), (7, "a", 70)]


def test_disjoint_concurrent_merges_commute(spark, tdir):
    """Concurrent MERGEs with non-overlapping key ranges touch disjoint
    data and must BOTH commit (no false conflicts)."""
    t_a = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t_b = TxLogTable(spark, tdir)
    real_write = t_b._write_segments
    raced = {"done": False}

    def write_then_race(df):
        rel = real_write(df)
        if not raced["done"]:
            raced["done"] = True
            t_a.merge_upsert(_df(spark, [(100, "a", 1)]), "k")
        return rel

    t_b._write_segments = write_then_race
    t_b.merge_upsert(_df(spark, [(200, "b", 2)]), "k")
    got = sorted(tuple(r) for r in t_a.read().collect())
    assert got == [(1, "a", 10), (100, "a", 1), (200, "b", 2)]


def test_evolved_schema_survives_delete_all(spark, tdir):
    """ADVICE r5: an append that evolves the schema commits an updated
    metaData action, so an EMPTY snapshot (delete-all) still exposes the
    evolved columns instead of falling back to the CREATE schema."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(spark.createDataFrame([(2, "b", 20, 99)],
                                   "k int, grp string, v int, extra int"))
    t.delete_where(F.lit(True))
    empty = t.read()
    assert empty.count() == 0
    assert "extra" in empty.columns, "evolved column lost after delete-all"


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: random create/append/merge/delete/compact
    sequences must leave the table equal to a plain-Python dict model.
    Deterministic op list (no RNG in tests), chosen to interleave every
    op kind and hit update/insert/delete/no-op arms."""
    ops = [
        ("append", [(10, "x", 1), (11, "y", 2)]),
        ("merge", [(10, "x", 5), (20, "z", 9)]),
        ("delete_v", 2),          # deletes k=11
        ("append", [(30, "w", 2), (31, "w", 7)]),
        ("compact", None),
        ("merge", [(31, "w", 8), (10, "x", 6)]),
        ("delete_v", 9),          # deletes k=20
        ("append", [(40, "q", 4)]),
        ("compact", None),
    ]
    t = TxLogTable.create(spark, str(tmp_path / "m"),
                          _df(spark, [(1, "a", 3)]))
    model = {1: ("a", 3)}
    for op, arg in ops:
        if op == "append":
            t.append(_df(spark, arg))
            model.update({k: (g, v) for k, g, v in arg})
        elif op == "merge":
            t.merge_upsert(_df(spark, arg), "k")
            model.update({k: (g, v) for k, g, v in arg})
        elif op == "delete_v":
            t.delete_where(F.col("v") == arg)
            model = {k: gv for k, gv in model.items() if gv[1] != arg}
        elif op == "compact":
            t.optimize_compact(target_segments=2)
        got = {r.k: (r.grp, r.v) for r in t.read().collect()}
        assert got == model, f"diverged after {op}({arg})"
    # history replay is consistent: every recorded version still resolves
    for v in range(t.latest_version() + 1):
        t._snapshot_files(v)


# -- data skipping (file statistics) ----------------------------------------


def _ranged_table(spark, tdir, n=400, files=8):
    """n rows with k = 0..n-1, range-partitioned so each segment holds a
    disjoint, tight k-range — the layout data skipping rewards."""
    df = (spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 3).cast("int").alias("v"))
        .repartitionByRange(files, "k"))
    return TxLogTable.create(spark, tdir, df)


def test_add_actions_record_footer_stats(spark, tdir):
    t = _ranged_table(spark, tdir)
    active, _ = t._snapshot()
    assert active, "no files"
    for path, stats in active.items():
        assert stats is not None, f"missing stats for {path}"
        assert stats["numRecords"] > 0
        assert "k" in stats["minValues"] and "k" in stats["maxValues"]
        assert stats["minValues"]["k"] <= stats["maxValues"]["k"]


def test_prune_files_skips_disjoint_ranges(spark, tdir):
    t = _ranged_table(spark, tdir)
    kept, total = t.prune_files([("k", "between", (100, 149))])
    assert total >= 4
    assert 0 < len(kept) < total, (
        f"expected real pruning: kept {len(kept)} of {total}")


def test_read_where_matches_unpruned_filter(spark, tdir):
    t = _ranged_table(spark, tdir)
    for preds, cond in [
        ([("k", "between", (100, 149))], (F.col("k") >= 100) & (F.col("k") <= 149)),
        ([("k", ">=", 390)], F.col("k") >= 390),
        ([("k", "<", 5)], F.col("k") < 5),
        ([("k", "=", 123)], F.col("k") == 123),
        ([("k", ">", 50), ("k", "<=", 60)], (F.col("k") > 50) & (F.col("k") <= 60)),
    ]:
        got = sorted(tuple(r) for r in t.read_where(preds).collect())
        want = sorted(tuple(r) for r in t.read().filter(cond).collect())
        assert got == want, f"pruned read diverged for {preds}"


def test_read_where_empty_match_returns_schema(spark, tdir):
    t = _ranged_table(spark, tdir)
    df = t.read_where([("k", ">", 10_000)])
    assert df.count() == 0
    assert set(df.columns) == {"k", "grp", "v"}


def test_prune_conservative_without_stats(spark, tdir):
    # Strip recorded stats (simulating a pre-stats commit): pruning must
    # keep every file, never skip on absent evidence.
    t = _ranged_table(spark, tdir)
    import json as _json
    fp = os.path.join(t.log_dir, "00000000.json")
    actions = []
    with open(fp) as f:
        for line in f:
            a = _json.loads(line)
            if "add" in a:
                a["add"].pop("stats", None)
            actions.append(a)
    os.remove(fp)
    with open(fp, "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    kept, total = t.prune_files([("k", "between", (0, 1))])
    assert len(kept) == total


def test_checkpoint_carries_stats_forward(spark, tdir):
    t = TxLogTable(spark, tdir, checkpoint_interval=2)
    df = (spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        F.lit("a").alias("grp"),
        F.col("id").cast("int").alias("v"))
        .repartitionByRange(4, "k"))
    t2 = TxLogTable.create(spark, tdir, df)
    t2.checkpoint_interval = 2
    t2.append(_df(spark, [(1000, "z", 1)]))
    t2.append(_df(spark, [(1001, "z", 1)]))  # v2 -> checkpoint written
    assert os.path.exists(t2._checkpoint_path(2))
    active, _ = t2._snapshot()
    with_stats = [s for s in active.values() if s is not None]
    assert len(with_stats) == len(active), "checkpoint dropped stats"
    kept, total = t2.prune_files([("k", "<=", 20)])
    assert len(kept) < total


# -- change data feed -------------------------------------------------------


def test_cdf_merge_changes(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          enable_cdf=True)
    t.merge_upsert(_df(spark, [(2, "b", 99), (5, "c", 50)]), "k")
    ch = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in t.read_changes(1, 1).collect())
    assert ch == [("insert", 5, 50),
                  ("update_postimage", 2, 99),
                  ("update_preimage", 2, 20)]


def test_cdf_delete_and_append_stream(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          enable_cdf=True)
    t.append(_df(spark, [(2, "b", 20), (3, "c", 30)]))      # v1
    t.delete_where(F.col("k") == 2)                          # v2
    ch = t.read_changes(0).collect()
    by_ver = {}
    for r in ch:
        by_ver.setdefault(r["_commit_version"], []).append(
            (r["_change_type"], r["k"]))
    assert sorted(by_ver[0]) == [("insert", 1)]
    assert sorted(by_ver[1]) == [("insert", 2), ("insert", 3)]
    assert sorted(by_ver[2]) == [("delete", 2)]


def test_cdf_optimize_contributes_nothing(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          enable_cdf=True)
    t.append(_df(spark, [(2, "b", 20)]))
    t.optimize_compact(target_segments=1)
    vers = {r["_commit_version"] for r in t.read_changes(0).collect()}
    assert vers == {0, 1}, "OPTIMIZE is layout-only; no change rows"


def test_cdf_disabled_merge_raises_on_read(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.merge_upsert(_df(spark, [(1, "a", 99)]), "k")
    with pytest.raises(ValueError, match="no change data"):
        t.read_changes(1, 1)


def test_cdf_range_bounds(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          enable_cdf=True)
    with pytest.raises(ValueError):
        t.read_changes(0, 5)
    with pytest.raises(ValueError):
        t.read_changes(-1)


# -- deletion vectors (merge-on-read DELETE) --------------------------------


def test_dv_delete_touches_no_data_segments(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    files_before, _ = t._snapshot_files()
    t.delete_where(F.col("k") == 2, use_dv=True)
    files_after, _ = t._snapshot_files()
    assert files_before == files_after, "DV delete must not rewrite segments"
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (3, "c", 30)]
    hist = t.history()
    assert hist[-1]["op"] == "DELETE" and hist[-1]["mode"] == "dv"


def test_dv_delete_null_predicate_rows_survive(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, None, 20), (3, "c", 30)]))
    t.delete_where(F.col("grp") == "c", use_dv=True)
    got = sorted((r["k"] for r in t.read().collect()))
    assert got == [1, 2], "NULL-evaluating rows must survive DELETE"


def test_dv_stacked_deletes_and_time_travel(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(i, "a", i * 10) for i in range(10)]))
    t.delete_where(F.col("k") < 3, use_dv=True)     # v1
    t.delete_where(F.col("k") >= 8, use_dv=True)    # v2
    assert sorted(r["k"] for r in t.read().collect()) == [3, 4, 5, 6, 7]
    assert sorted(r["k"] for r in t.read(version=1).collect()) == list(range(3, 10))
    assert sorted(r["k"] for r in t.read(version=0).collect()) == list(range(10))


def test_dv_merge_does_not_resurrect_deleted_rows(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    t.delete_where(F.col("k") == 2, use_dv=True)
    # Merge on a key in the same segment as the deleted row: the rewrite
    # must materialize the DV (row 2 stays gone), not resurrect it.
    t.merge_upsert(_df(spark, [(3, "c", 99)]), "k")
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (3, "c", 99)]


def test_dv_compaction_materializes_tombstones(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(i, "a", i) for i in range(8)]))
    t.delete_where(F.col("k") % 2 == 0, use_dv=True)
    t.optimize_compact(target_segments=1)
    _, _, dvs = t._snapshot_full()
    assert dvs == {}, "compaction must retire deletion vectors"
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 5, 7]


def test_dv_delete_with_cdf_records_deletes(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          enable_cdf=True)
    t.delete_where(F.col("k") == 1, use_dv=True)
    ch = [(r["_change_type"], r["k"]) for r in t.read_changes(1, 1).collect()]
    assert ch == [("delete", 1)]


def test_dv_checkpoint_roundtrip(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(i, "a", i) for i in range(6)]))
    t.checkpoint_interval = 2
    t.delete_where(F.col("k") == 0, use_dv=True)   # v1
    t.delete_where(F.col("k") == 5, use_dv=True)   # v2 -> checkpoint
    assert os.path.exists(t._checkpoint_path(2))
    # A fresh handle resolving purely from the checkpoint must still
    # apply both DVs.
    t2 = TxLogTable(spark, tdir)
    assert sorted(r["k"] for r in t2.read().collect()) == [1, 2, 3, 4]


def test_dv_delete_conflicts_with_concurrent_rewrite(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    import distributed_database_for_sql_spark.sources.txlog as txmod
    orig = t._write_dv

    def write_then_race(df):
        rel = orig(df)
        # Another writer compacts (rewrites every file) between our DV
        # computation and our commit: row positions are now invalid.
        t2 = TxLogTable(spark, t.path)
        t2.optimize_compact(target_segments=1)
        return rel

    t._write_dv = write_then_race
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t.delete_where(F.col("k") == 1, use_dv=True)


# -- UPDATE (copy-on-write) -------------------------------------------------


def test_update_where_pre_update_semantics(spark, tdir):
    # Swap-style assignment: both expressions must see PRE-update values.
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.update_where({"k": "v", "v": "k"}, F.col("k") == 2)
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (20, "b", 2)]


def test_update_where_null_rows_untouched(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, None, 20)]))
    t.update_where({"v": "v + 1"}, F.col("grp") == "a")
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 11), (2, 20)]


def test_update_where_rewrites_only_touched_segments(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    files_before, _ = t._snapshot_files()
    t.update_where({"v": "99"}, F.col("k") == 2)
    files_after, _ = t._snapshot_files()
    seg1 = [f for f in files_before if "/data-" in f][0]
    assert seg1 in files_after
    assert t.history()[-1]["op"] == "UPDATE"


def test_update_where_unknown_column_raises(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where({"nope": "1"}, F.col("k") == 1)


def test_update_where_cdf_pre_and_postimages(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 200)]),
                          enable_cdf=True)
    # Predicate on the column being updated: postimage rows must NOT be
    # re-filtered by the post-update value.
    t.update_where({"v": "0"}, F.col("v") > 100)
    ch = sorted((r["_change_type"], r["k"], r["v"])
                for r in t.read_changes(1, 1).collect())
    assert ch == [("update_postimage", 2, 0), ("update_preimage", 2, 200)]


def test_update_respects_deletion_vectors(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "a", 20), (3, "a", 30)]))
    t.delete_where(F.col("k") == 2, use_dv=True)
    t.update_where({"v": "v * 2"}, F.col("grp") == "a")
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 20), (3, 60)], "DV'd row must not be resurrected"


def test_engine_sql_update_and_delete_route(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, "/root/testdata/sf0.001")
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("t_ud", t)
    ack = engine.sql("UPDATE t_ud SET v = v + 5 WHERE grp = 'a'")
    assert ack.collect()[0]["version"] == 1
    ack = engine.sql("DELETE FROM t_ud WHERE k = 2")
    assert ack.collect()[0]["version"] == 2
    got = sorted((r["k"], r["v"])
                 for r in engine.sql("SELECT k, v FROM t_ud").collect())
    assert got == [(1, 15)]
    # commas inside a call or a string literal do not split assignments
    engine.sql("UPDATE t_ud SET v = coalesce(v, 0) + 1")
    engine.sql("UPDATE t_ud SET grp = 'a,b' WHERE k = 1;")
    got = [tuple(r) for r in engine.sql("SELECT k, grp, v FROM t_ud").collect()]
    assert got == [(1, "a,b", 16)]
    # a WHERE inside a string literal or parentheses does not end SET
    engine.sql("UPDATE t_ud SET grp = 'late where due' WHERE k = 1")
    engine.sql("UPDATE t_ud SET v = coalesce((SELECT max(v) FROM t_ud "
               "WHERE k = 1), 0) + 1 WHERE k = 1")
    got = [tuple(r) for r in engine.sql("SELECT k, grp, v FROM t_ud").collect()]
    assert got == [(1, "late where due", 17)]
    # non-txlog UPDATE statements fall through to spark.sql and fail
    # there (no such table) rather than being swallowed by the route
    with pytest.raises(Exception):
        engine.sql("UPDATE not_registered SET x = 1 WHERE y = 2").collect()


# -- timestamp time travel / RESTORE / DV vacuum ---------------------------


def test_timestamp_as_of_resolution(spark, tdir):
    import json as _json

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    t.append(_df(spark, [(3, "c", 30)]))
    # Rewrite commit timestamps to known values (10s apart) so the
    # resolution logic is tested deterministically.
    for v, ts in ((0, 1000), (1, 11000), (2, 21000)):
        fp = os.path.join(t.log_dir, f"{v:08d}.json")
        actions = []
        with open(fp) as f:
            for line in f:
                a = _json.loads(line)
                if "commit" in a:
                    a["commit"]["ts"] = ts
                actions.append(a)
        os.remove(fp)
        with open(fp, "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")
    assert t.version_at_timestamp(1000) == 0
    assert t.version_at_timestamp(15000) == 1
    assert t.version_at_timestamp(99999) == 2
    with pytest.raises(ValueError, match="no commit"):
        t.version_at_timestamp(500)
    assert sorted(r["k"] for r in t.read(timestamp=15000).collect()) == [1, 2]
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=15000)


def test_restore_rolls_back_as_new_commit(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(2, "b", 99), (5, "c", 50)]), "k")   # v1
    t.delete_where(F.col("k") == 1)                                  # v2
    v = t.restore(1)
    assert v == 3
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 99), (5, "c", 50)]
    # history intact: the bad v2 is still time-travelable
    assert sorted(r["k"] for r in t.read(version=2).collect()) == [2, 5]
    assert t.history()[-1]["op"] == "RESTORE"
    assert t.history()[-1]["restoredVersion"] == 1


def test_restore_preserves_dv_state(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    t.delete_where(F.col("k") == 2, use_dv=True)     # v1 (DV)
    t.delete_where(F.col("k") == 3)                  # v2 (copy-on-write)
    t.restore(1)                                     # back to DV-only state
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [1, 3], "restore must re-apply the v1 deletion vector"


def test_vacuum_collects_retired_dv_sidecars(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(i, "a", i) for i in range(6)]))
    t.delete_where(F.col("k") == 0, use_dv=True)
    t.optimize_compact(target_segments=1)  # materializes + retires the DV
    dv_root = os.path.join(tdir, "_deletion_vectors")
    assert os.path.isdir(dv_root) and os.listdir(dv_root)
    removed = t.vacuum(retention_seconds=0)
    assert any("_deletion_vectors" in p for p in removed)
    assert not os.path.isdir(dv_root) or not os.listdir(dv_root)
    # live data unaffected
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4, 5]


def test_vacuum_spares_live_dv_sidecars(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    removed = t.vacuum(retention_seconds=0)
    assert not any("_deletion_vectors" in p for p in removed)
    assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_random_op_sequences_full_dml_surface(spark, tmp_path):
    """Model-based check over the FULL r6 DML surface: interleaved
    append / merge / copy-on-write delete / DV delete / UPDATE /
    compact / RESTORE sequences must track a plain-Python dict model.
    Deterministic op list (no RNG); restore targets are recorded
    versions with their model snapshots."""
    t = TxLogTable.create(spark, str(tmp_path / "m2"),
                          _df(spark, [(1, "a", 3), (2, "b", 4)]))
    model = {1: ("a", 3), 2: ("b", 4)}
    snapshots = {0: dict(model)}
    ops = [
        ("append", [(10, "x", 1), (11, "y", 2)]),
        ("dv_delete_k", 11),
        ("merge", [(10, "x", 5), (20, "z", 9)]),
        ("update_grp", ("x", 100)),        # v += 100 where grp = 'x'
        ("compact", None),
        ("dv_delete_k", 2),
        ("restore", 3),                    # back to post-update? no: v3
        ("append", [(30, "w", 7)]),
        ("delete_v", 9),                   # deletes k=20 if present
        ("dv_delete_k", 1),
        ("compact", None),
        ("txn_append", ("job", 0, [(40, "t", 8)])),
        ("txn_append", ("job", 0, [(41, "t", 9)])),  # replayed: no-op
        ("zorder", None),
        ("txn_append", ("job", 1, [(42, "t", 6)])),
    ]
    for op, arg in ops:
        if op == "append":
            t.append(_df(spark, arg))
            model.update({k: (g, v) for k, g, v in arg})
        elif op == "txn_append":
            app, ver, rows = arg
            before = t.txn_version_for(app)
            t.append(_df(spark, rows), txn_app_id=app, txn_version=ver)
            if ver > before:  # replays change nothing
                model.update({k: (g, v) for k, g, v in rows})
        elif op == "zorder":
            t.optimize_compact(zorder_by=["k", "v"])
        elif op == "merge":
            t.merge_upsert(_df(spark, arg), "k")
            model.update({k: (g, v) for k, g, v in arg})
        elif op == "delete_v":
            t.delete_where(F.col("v") == arg)
            model = {k: gv for k, gv in model.items() if gv[1] != arg}
        elif op == "dv_delete_k":
            t.delete_where(F.col("k") == arg, use_dv=True)
            model.pop(arg, None)
        elif op == "update_grp":
            grp, add = arg
            t.update_where({"v": f"v + {add}"}, F.col("grp") == grp)
            model = {k: (g, v + add if g == grp else v)
                     for k, (g, v) in model.items()}
        elif op == "compact":
            t.optimize_compact(target_segments=2)
        elif op == "restore":
            t.restore(arg)
            model = dict(snapshots[arg])
        snapshots[t.latest_version()] = dict(model)
        got = {r.k: (r.grp, r.v) for r in t.read().collect()}
        assert got == model, f"diverged after {op}({arg})"
    for v in range(t.latest_version() + 1):
        t._snapshot_files(v)


# -- partitioned tables (Hive layout + partition pruning) -------------------


def test_partitioned_create_layout_and_read(spark, tdir):
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]),
        partition_by="grp")
    files, _ = t._snapshot_files()
    assert all("grp=" in f for f in files), files
    got = sorted((r["k"], r["grp"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20), (3, "a", 30)]


def test_partition_pruning_by_value(spark, tdir):
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        partition_by="grp")
    kept, total = t.prune_files([("grp", "=", "b")])
    assert total == 3 and len(kept) == 1
    got = [(r["k"], r["grp"]) for r in t.read_where([("grp", "=", "b")]).collect()]
    assert got == [(2, "b")]
    # range op on a partition column: conservative, keeps everything
    kept2, _ = t.prune_files([("grp", ">", "a")])
    assert len(kept2) == 3


def test_partitioned_dml_preserves_layout(spark, tdir):
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_by="grp")
    t.merge_upsert(_df(spark, [(2, "b", 99), (5, "c", 50)]), "k")
    t.delete_where(F.col("k") == 1)
    files, _ = t._snapshot_files()
    assert all("grp=" in f for f in files), files
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(2, 99), (5, 50)]
    kept, total = t.prune_files([("grp", "=", "c")])
    assert 0 < len(kept) < total


def test_partitioned_missing_column_raises(spark, tdir):
    with pytest.raises(ValueError, match="partition columns not in schema"):
        TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          partition_by="nope")


def test_partitioned_vacuum_collects_kv_dirs(spark, tdir):
    t = TxLogTable.create(
        spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_by="grp")
    t.optimize_compact(target_segments=1)
    removed = t.vacuum(retention_seconds=0)
    assert removed, "old partition files should be collected"
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 10), (2, 20)]


# -- idempotent (txn) writes -------------------------------------------------

def test_txn_append_replay_is_noop(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    v1 = t.append(_df(spark, [(2, "b", 20)]), txn_app_id="job", txn_version=0)
    v2 = t.append(_df(spark, [(9, "x", 90)]), txn_app_id="job", txn_version=0)
    assert v2 == v1, "replayed epoch must commit nothing"
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20)]
    # a NEW epoch commits normally
    t.append(_df(spark, [(3, "c", 30)]), txn_app_id="job", txn_version=1)
    assert t.read().count() == 3
    assert t.txn_version_for("job") == 1
    assert t.txn_version_for("elsewhere") == -1


def test_txn_watermark_survives_checkpoint(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    for i in range(5):
        t.append(_df(spark, [(10 + i, "s", i)]), txn_app_id="s", txn_version=i)
    assert os.path.exists(t._checkpoint_path(4)), "checkpoint must exist"
    # resolution must come through the checkpoint, not a full replay
    assert t.txn_version_for("s") == 4
    t.append(_df(spark, [(99, "z", 99)]), txn_app_id="s", txn_version=2)
    assert t.read().count() == 6, "stale epoch after checkpoint still a no-op"


def test_txn_requires_both_fields(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError):
        t.append(_df(spark, [(2, "b", 20)]), txn_app_id="job")


def test_streaming_sink_exactly_once(spark, tdir, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    _df(spark, [(i, "s", i) for i in range(20)]).repartition(3) \
        .write.parquet(src)
    t = TxLogTable.create(
        spark, tdir, spark.createDataFrame([], "k int, grp string, v int"))
    sink = t.streaming_sink("ingest")
    q = (spark.readStream.schema("k int, grp string, v int").parquet(src)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert t.read().count() == 20
    sink(spark.read.parquet(src), 0)  # replayed epoch id
    assert t.read().count() == 20, "replay must not double-ingest"


# -- CHECK constraints -------------------------------------------------------

def test_constraint_rejects_violating_writes(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.add_constraint("v_pos", "v > 0")
    with pytest.raises(ValueError, match="v_pos"):
        t.append(_df(spark, [(2, "b", -5)]))
    with pytest.raises(ValueError, match="v_pos"):
        t.merge_upsert(_df(spark, [(1, "a", -1)]), "k")
    with pytest.raises(ValueError, match="v_pos"):
        t.update_where({"v": "v - 100"}, F.col("k") == 1)
    # nothing committed by the failed attempts
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a", 10)]
    t.append(_df(spark, [(2, "b", 5)]))  # conforming write passes
    assert t.read().count() == 2


def test_constraint_validates_existing_data_on_add(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", -3)]))
    with pytest.raises(ValueError, match="violated"):
        t.add_constraint("v_pos", "v > 0")
    assert t.constraints() == {}


def test_constraint_null_passes_sql_semantics(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.add_constraint("v_pos", "v > 0")
    # SQL CHECK: NULL-evaluating rows pass (only FALSE violates)
    t.append(spark.createDataFrame([(3, "c", None)], "k int, grp string, v int"))
    assert t.read().count() == 2


def test_constraint_drop_and_checkpoint_carry(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    t.add_constraint("v_pos", "v > 0")
    for i in range(4):
        t.append(_df(spark, [(10 + i, "s", 1 + i)]))
    # constraint must survive checkpoint-based resolution
    assert "v_pos" in t.constraints()
    with pytest.raises(ValueError):
        t.append(_df(spark, [(99, "z", -9)]))
    t.drop_constraint("v_pos")
    t.append(_df(spark, [(99, "z", -9)]))
    assert t.read().count() == 6
    with pytest.raises(ValueError):
        t.drop_constraint("v_pos")


def test_engine_sql_constraint_route(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("ct", t)
    engine.sql("ALTER TABLE ct ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert t.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError):
        t.append(_df(spark, [(2, "b", -1)]))
    engine.sql("ALTER TABLE ct DROP CONSTRAINT v_pos")
    assert t.constraints() == {}


def test_optimize_write_bins_output_files(spark, tdir, tmp_path):
    """txlog.optimizeWrite.enabled: a pre-write shuffle bins a wide
    append into few files (unpartitioned: numFiles; partitioned: one
    task per partition value) instead of one file per input task."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(0, "a", 0)]))
    wide = spark.range(1000).selectExpr(
        "cast(id as int) k", "'s' grp", "cast(id as int) v"
    ).repartition(32)
    t.append(wide)  # off by default: one file per input task
    many = len(t._snapshot_files()[0])
    assert many > 30
    t.set_properties({"txlog.optimizeWrite.enabled": "true",
                      "txlog.optimizeWrite.numFiles": "2"})
    before = len(t._snapshot_files()[0])
    t.append(wide)
    assert len(t._snapshot_files()[0]) == before + 2
    assert t.read().count() == 2001
    # partitioned: one file per partition value, not per (task ×
    # partition)
    p = TxLogTable.create(
        spark, str(tmp_path / "pt"),
        spark.createDataFrame([(0, "a", 0)], "k int, grp string, v int"),
        partition_by="grp")
    p.set_properties({"txlog.optimizeWrite.enabled": "true"})
    wide3 = spark.range(300).selectExpr(
        "cast(id as int) k",
        "concat('g', cast(id % 3 as string)) grp",
        "cast(id as int) v").repartition(32)
    before_p = len(p._snapshot_files()[0])
    p.append(wide3)
    assert len(p._snapshot_files()[0]) == before_p + 3  # one per value
    assert p.read().count() == 301


def test_generate_manifest_lists_active_snapshot(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.delete_where(F.col("k") == 1)  # copy-on-write rewrite
    path = t.generate_manifest()
    files = [ln for ln in open(path).read().splitlines() if ln]
    live, _ = t._snapshot_files()
    assert sorted(files) == sorted(os.path.normpath(p) for p in live)
    got = sorted(r["k"] for r in spark.read.parquet(*files).collect())
    assert got == [2]
    # DV'd snapshots refuse (a symlink reader would resurrect rows)
    t.delete_where(F.col("v") == 20, use_dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        t.generate_manifest()
    t.reorg_purge()
    t.generate_manifest()


def test_generate_manifest_partitioned_per_dir(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20),
                                                   (3, "a", 30)]),
                          partition_by="grp")
    ret = t.generate_manifest()
    root = os.path.join(tdir, "_symlink_format_manifest")
    # partitioned: the returned path is the manifest ROOT (it exists);
    # '<root>/manifest' is NOT written — only per-partition manifests
    assert os.path.normpath(ret) == os.path.normpath(root)
    assert os.path.isdir(ret)
    assert not os.path.exists(os.path.join(root, "manifest"))
    assert sorted(os.listdir(root)) == ["grp=a", "grp=b"]
    files_a = [ln for ln in open(os.path.join(
        root, "grp=a", "manifest")).read().splitlines() if ln]
    assert files_a and all("grp=a" in f for f in files_a)
    # unpartitioned: the returned path is the manifest FILE itself
    t2 = TxLogTable.create(spark, tdir + "_flat",
                           _df(spark, [(1, "a", 10)]))
    ret2 = t2.generate_manifest()
    assert os.path.isfile(ret2) and ret2.endswith("manifest")
    # delete-all keeps the rewritten (zero-row) segments active: the
    # manifest still lists exactly the active snapshot, and a reader
    # through it sees zero rows
    t3 = TxLogTable.create(spark, tdir + "_empty",
                           _df(spark, [(1, "a", 10)]))
    t3.delete_where(F.lit(True))
    ret3 = t3.generate_manifest()
    assert os.path.isfile(ret3)
    live3, _ = t3._snapshot_files()
    listed = [ln for ln in open(ret3).read().splitlines() if ln]
    assert len(listed) == len(live3)
    if listed:
        assert spark.read.parquet(*listed).count() == 0


def test_merge_full_txn_idempotence(spark, tdir):
    """merge_full's txnAppId/Version contract (the append-path
    exactly-once guarantee on a MERGE): a replayed fold with an
    equal-or-lower version is a no-op — the incremental-MV crash/replay
    foundation."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    upd = _df(spark, [(1, "a", 99), (2, "b", 20)])
    clauses = dict(
        when_matched=[{"action": "update", "set": "*"}],
        when_not_matched=[{"action": "insert", "values": "*"}])
    v = t.merge_full(upd, "k", **clauses, txn_app_id="fold", txn_version=7)
    assert sorted(r["v"] for r in t.read().collect()) == [20, 99]
    # replay: same version → no-op, no new commit, values unchanged
    assert t.merge_full(_df(spark, [(1, "a", 1000)]), "k", **clauses,
                        txn_app_id="fold", txn_version=7) == v
    assert sorted(r["v"] for r in t.read().collect()) == [20, 99]
    # a NEWER version applies
    t.merge_full(_df(spark, [(1, "a", 1000)]), "k", **clauses,
                 txn_app_id="fold", txn_version=8)
    assert sorted(r["v"] for r in t.read().collect()) == [20, 1000]
    with pytest.raises(ValueError, match="go together"):
        t.merge_full(upd, "k", **clauses, txn_app_id="fold")


# -- materialized views --------------------------------------------------------

def _mv_engine(spark):
    from distributed_database_for_sql_spark.engine import Engine

    return Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                        "/root/testdata/sf0.001"))


def test_materialized_view_incremental_fold(spark, tdir):
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "a", 20),
                                                     (3, "b", 30)]),
                            enable_cdf=True)
    engine.register_txlog("mvsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW mvagg AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total "
               "FROM mvsrc GROUP BY grp")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM mvagg").collect()) == \
        [("a", 2, 30), ("b", 1, 30)]
    # group update, group death, group birth — all via CDF fold
    src.merge_upsert(_df(spark, [(2, "a", 99), (4, "c", 40)]), "k")
    src.delete_where(F.col("grp") == "b")
    engine.sql("REFRESH MATERIALIZED VIEW mvagg")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM mvagg").collect()) == \
        [("a", 2, 109), ("c", 1, 40)]
    # up-to-date refresh commits nothing (exactly-once marker)
    mv = engine.txlog_tables["mvagg"]
    v = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW mvagg")
    assert mv.latest_version() == v
    # the MV is itself ACID: time travel to the pre-refresh state
    # (select the public columns — read() also carries __mv_* state)
    assert sorted(tuple(r) for r in mv.read(version=v - 1)
                  .select("grp", "n", "total").collect()) == \
        [("a", 2, 30), ("b", 1, 30)]


def test_materialized_view_definition_survives_engine_restart(spark, tdir,
                                                              tmp_path):
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                            enable_cdf=True)
    engine.register_txlog("rsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW rmv AS "
               "SELECT grp, COUNT(*) AS n FROM rsrc GROUP BY grp")
    src.append(_df(spark, [(2, "a", 20), (3, "z", 30)]))
    # a FRESH engine re-registers from disk and keeps refreshing: the
    # definition + fold position live in the MV table itself
    engine2 = _mv_engine(spark)
    engine2.register_txlog("rsrc", TxLogTable(spark, src.path))
    engine2.register_txlog(
        "rmv", TxLogTable(spark, engine.txlog_tables["rmv"].path))
    engine2.sql("REFRESH MATERIALIZED VIEW rmv")
    assert sorted(tuple(r) for r in
                  engine2.sql("SELECT * FROM rmv").collect()) == \
        [("a", 2), ("z", 1)]


def test_materialized_view_minmax_survives_restart_and_full(spark, tdir):
    """The widened aggregate class round-trips TBLPROPERTIES: a FRESH
    engine re-registers a minmax/avg/where MV from disk, keeps folding
    (incl. the repair path), and REFRESH FULL replaces every column —
    visible AND hidden maintenance state."""
    engine = _mv_engine(spark)
    src = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, "a", 5), (2, "a", 9), (3, "b", -4),
                               (4, "b", 7)], "k int, grp string, v int"),
        enable_cdf=True)
    engine.register_txlog("wsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW wmv AS "
               "SELECT grp, COUNT(*) AS n, AVG(v) AS mean, "
               "MIN(v) AS lo, MAX(v) AS hi FROM wsrc "
               "WHERE v > 0 GROUP BY grp")
    src.delete_where(F.col("v") == 9)  # group a's max dies -> repair
    src.append(spark.createDataFrame([(5, "b", 2)],
                                     "k int, grp string, v int"))
    engine2 = _mv_engine(spark)
    engine2.register_txlog("wsrc", TxLogTable(spark, src.path))
    engine2.register_txlog(
        "wmv", TxLogTable(spark, engine.txlog_tables["wmv"].path))
    engine2.sql("REFRESH MATERIALIZED VIEW wmv")

    def want():
        return sorted(
            (r["grp"], r["n"], r["mean"], r["lo"], r["hi"]) for r in
            src.read().filter("v > 0").groupBy("grp")
            .agg(F.count("*").alias("n"), F.avg("v").alias("mean"),
                 F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect())

    got = sorted((r["grp"], r["n"], r["mean"], r["lo"], r["hi"])
                 for r in engine2.sql("SELECT * FROM wmv").collect())
    assert got == want()
    # FULL refresh replaces everything (visible + hidden state) too
    src.update_where({"v": F.col("v") + 10}, F.col("k") == 1)
    engine2.sql("REFRESH MATERIALIZED VIEW wmv FULL")
    got = sorted((r["grp"], r["n"], r["mean"], r["lo"], r["hi"])
                 for r in engine2.sql("SELECT * FROM wmv").collect())
    assert got == want()
    # ... and the hidden counters were replaced consistently: another
    # incremental fold on top of the FULL state still matches
    src.delete_where(F.col("k") == 4)
    engine2.sql("REFRESH MATERIALIZED VIEW wmv")
    got = sorted((r["grp"], r["n"], r["mean"], r["lo"], r["hi"])
                 for r in engine2.sql("SELECT * FROM wmv").collect())
    assert got == want()


def test_materialized_view_legacy_schema_migrates(spark, tdir, tmp_path):
    """r11 ADVICE: an MV persisted BEFORE the hidden SUM/AVG
    maintenance columns existed (no __mv_nn_/__mv_sum_) must not die
    with an unresolved-column error — refresh backfills them via
    metadata-only ADD COLUMN + one forced full recompute, then keeps
    folding incrementally."""
    import json as _json

    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                     (2, "a", 20),
                                                     (3, "b", 30)]),
                            enable_cdf=True)
    engine.register_txlog("legsrc", src)
    # hand-build the legacy MV shape: VISIBLE columns only (the exact
    # on-disk state the pre-widening code persisted), definition in
    # TBLPROPERTIES, fold marker at the source head
    legacy = (src.read().groupBy("grp")
              .agg(F.count("*").alias("n"),
                   F.sum("v").alias("total"),
                   F.avg("v").alias("mean")))
    mv = TxLogTable.create(spark, str(tmp_path / "legmv"), legacy,
                           enable_cdf=True)
    mv.set_properties({
        "mv.source": "legsrc", "mv.groupBy": "grp", "mv.counts": "n",
        "mv.sums": _json.dumps({"total": "v"}),
        "mv.avgs": _json.dumps({"mean": "v"}),
    })
    mv.merge_full(mv.read(), ["grp"],
                  when_matched=[{"action": "update", "set": {"n": "t.n"}}],
                  txn_app_id="mv::legmv", txn_version=src.latest_version())
    engine.register_txlog("legmv", mv)
    # source churn the incremental path would fold — the legacy schema
    # made this an opaque AnalysisException before the migration
    src.merge_upsert(_df(spark, [(2, "a", 99), (4, "c", 40)]), "k")
    engine.sql("REFRESH MATERIALIZED VIEW legmv")
    assert {"__mv_nn_total", "__mv_nn_mean", "__mv_sum_mean"} <= \
        set(mv.read().columns)
    got = sorted(tuple(r) for r in
                 engine.sql("SELECT grp, n, total, mean "
                            "FROM legmv").collect())
    assert got == [("a", 2, 109, 54.5), ("b", 1, 30, 30.0),
                   ("c", 1, 40, 40.0)]
    # and the NULL-return contract the state columns exist FOR works:
    # delete the last non-NULL contributor of a group → NULL, not 0
    src.delete_where(F.col("k").isin(2, 4))
    engine.sql("REFRESH MATERIALIZED VIEW legmv")
    got = sorted(tuple(r) for r in
                 engine.sql("SELECT grp, n, total, mean "
                            "FROM legmv").collect())
    assert got == [("a", 1, 10, 10.0), ("b", 1, 30, 30.0)]


def test_materialized_view_txlog_dim_auto_repairs(spark, tdir, tmp_path):
    """r11: a txlog dim composes with star-join MVs — the dim's version
    rides the MV as a marker; REFRESH detects dim churn (metadata-only
    version check) and auto-runs the FULL repair path only then, while
    fact churn stays incremental."""
    engine = _mv_engine(spark)
    fact = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (2, 1, 20), (3, 2, 30)],
                              "k int, dk int, v int"),
        enable_cdf=True)
    dim = TxLogTable.create(
        spark, str(tmp_path / "dim"),
        spark.createDataFrame([(1, "x"), (2, "y")], "dk int, seg string"))
    engine.register_txlog("tdfact", fact)
    engine.register_txlog("tddim", dim)
    engine.sql("CREATE MATERIALIZED VIEW tdmv AS "
               "SELECT seg, COUNT(*) AS n, SUM(v) AS total "
               "FROM tdfact JOIN tddim ON tdfact.dk = tddim.dk "
               "GROUP BY seg")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM tdmv").collect()) == \
        [("x", 2, 30), ("y", 1, 30)]
    # fact churn with an UNCHANGED dim folds incrementally (the MV's
    # version advances by exactly the one fold MERGE commit)
    mv = engine.txlog_tables["tdmv"]
    fact.append(spark.createDataFrame([(4, 2, 40)], "k int, dk int, v int"))
    v0 = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW tdmv")
    assert mv.latest_version() == v0 + 1, "dim-clean refresh must stay " \
        "incremental (one fold commit, no marker rewrite)"
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM tdmv").collect()) == \
        [("x", 2, 30), ("y", 2, 70)]
    # the dim CHANGES (dk=2 re-segments y→z): plain REFRESH detects the
    # marker gap and auto-repairs — no manual FULL needed.  ADVICE r11:
    # the repair fold and the mv.dimVersions marker advance land as ONE
    # commit (a crash between two commits left the marker stale and the
    # next refresh redid the FULL recompute)
    dim.update_where({"seg": F.lit("z")}, F.col("dk") == 2)
    v_pre = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW tdmv")
    assert mv.latest_version() == v_pre + 1, \
        "dim repair + marker advance must be one atomic commit"
    import json as _json
    assert _json.loads(mv.properties()["mv.dimVersions"]) == \
        {"tddim": dim.latest_version()}
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM tdmv").collect()) == \
        [("x", 2, 30), ("z", 2, 70)]
    # and the repair advanced the marker: the NEXT refresh with a clean
    # dim is incremental again
    fact.append(spark.createDataFrame([(5, 1, 50)], "k int, dk int, v int"))
    v1 = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW tdmv")
    assert mv.latest_version() == v1 + 1
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM tdmv").collect()) == \
        [("x", 3, 80), ("z", 2, 70)]


def test_materialized_view_full_refresh_repairs_dim_change(spark, tdir,
                                                           tmp_path):
    """REFRESH ... FULL: a static dim changed under a join MV (outside
    the CDF contract), so the incremental path is blind to it — the
    FULL refresh recomputes and REPLACES (set/insert/by-source-delete),
    and the incremental path still works afterwards."""
    engine = _mv_engine(spark)
    fact = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (2, 1, 20), (3, 2, 30)],
                              "k int, dk int, v int"),
        enable_cdf=True)
    engine.register_txlog("ffact", fact)
    spark.createDataFrame([(1, "x"), (2, "y")], "dk int, seg string") \
        .createOrReplaceTempView("fdim")
    engine.sql("CREATE MATERIALIZED VIEW fmv AS "
               "SELECT seg, COUNT(*) AS n, SUM(v) AS total "
               "FROM ffact JOIN fdim ON ffact.dk = fdim.dk GROUP BY seg")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM fmv").collect()) == \
        [("x", 2, 30), ("y", 1, 30)]
    # the dim is EDITED: dk=2 re-segments y→z (invisible to fact CDF)
    spark.createDataFrame([(1, "x"), (2, "z")], "dk int, seg string") \
        .createOrReplaceTempView("fdim")
    engine.sql("REFRESH MATERIALIZED VIEW fmv")   # incremental: blind
    assert sorted(r["seg"] for r in
                  engine.sql("SELECT seg FROM fmv").collect()) == ["x", "y"]
    engine.sql("REFRESH MATERIALIZED VIEW fmv FULL")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM fmv").collect()) == \
        [("x", 2, 30), ("z", 1, 30)]
    # incremental keeps working after the repair
    fact.append(spark.createDataFrame([(4, 2, 40)], "k int, dk int, v int"))
    engine.sql("REFRESH MATERIALIZED VIEW fmv")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM fmv").collect()) == \
        [("x", 2, 30), ("z", 2, 70)]


def test_materialized_view_cascade(spark, tdir):
    """MVs chain: mv2 is defined OVER mv1 and maintains itself from
    mv1's own CDF — the multi-stage incremental-pipeline shape.  After
    source mutations, refreshing mv1 then mv2 reproduces the full
    recompute at both stages."""
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "a", 20),
                                                     (3, "b", 30), (4, "c", 40)]),
                            enable_cdf=True)
    engine.register_txlog("csrc", src)
    engine.sql("CREATE MATERIALIZED VIEW cmv1 AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total "
               "FROM csrc GROUP BY grp")
    # histogram of group sizes, maintained from cmv1's change feed
    engine.sql("CREATE MATERIALIZED VIEW cmv2 AS "
               "SELECT n, COUNT(*) AS n_groups, SUM(total) AS sum_total "
               "FROM cmv1 GROUP BY n")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM cmv2").collect()) == \
        [(1, 2, 70), (2, 1, 30)]
    # source churn: group a shrinks, b dies, d is born
    src.delete_where(F.col("k") == 1)
    src.delete_where(F.col("grp") == "b")
    src.append(_df(spark, [(5, "d", 50), (6, "d", 60)]))
    engine.sql("REFRESH MATERIALIZED VIEW cmv1")
    engine.sql("REFRESH MATERIALIZED VIEW cmv2")
    # state: a={2}, c={4}, d={5,6} → sizes 1,1,2
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM cmv2").collect()) == \
        [(1, 2, 60), (2, 1, 110)]


def test_show_materialized_views_staleness(spark, tdir):
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                            enable_cdf=True)
    engine.register_txlog("ssrc", src)
    engine.sql("CREATE MATERIALIZED VIEW smv AS "
               "SELECT grp, COUNT(*) AS n FROM ssrc GROUP BY grp")
    row = engine.sql("SHOW MATERIALIZED VIEWS").collect()[0]
    assert (row["view_name"], row["source"], row["stale_commits"]) == \
        ("smv", "ssrc", 0)
    src.append(_df(spark, [(2, "b", 20)]))
    src.append(_df(spark, [(3, "c", 30)]))
    row = engine.sql("SHOW MATERIALIZED VIEWS").collect()[0]
    assert row["stale_commits"] == 2
    engine.sql("REFRESH MATERIALIZED VIEW smv")
    row = engine.sql("SHOW MATERIALIZED VIEWS").collect()[0]
    assert row["stale_commits"] == 0


def test_stream_refresh_keeps_mv_fresh(spark, tdir, tmp_path):
    """The managed continuous-refresh stream: a txlogcdf-triggered
    foreachBatch refresh drains source commits with availableNow
    batch semantics; the fold markers make replays no-ops."""
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                     (2, "b", 20)]),
                            enable_cdf=True)
    engine.register_txlog("stsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW stmv AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total "
               "FROM stsrc GROUP BY grp")
    src.append(_df(spark, [(3, "a", 30)]))
    src.delete_where(F.col("k") == 2)
    q = engine.stream_refresh("stmv", str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(tuple(r) for r in
                  engine.txlog_tables["stmv"].read()
                  .select("grp", "n", "total").collect()) == \
        [("a", 2, 40)]


def test_drop_materialized_view(spark, tdir):
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                            enable_cdf=True)
    engine.register_txlog("dsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW dmv AS "
               "SELECT grp, COUNT(*) AS n FROM dsrc GROUP BY grp")
    mv_path = engine.txlog_tables["dmv"].path
    out = engine.sql("DROP MATERIALIZED VIEW dmv").collect()
    assert out[0]["dropped"] and "dmv" not in engine.txlog_tables
    assert not os.path.exists(mv_path)
    # DROP of a base table refuses loudly
    with pytest.raises(ValueError, match="not a materialized view"):
        engine.sql("DROP MATERIALIZED VIEW dsrc")


def test_materialized_view_refusals(spark, tdir):
    engine = _mv_engine(spark)
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                            enable_cdf=True)
    engine.register_txlog("fsrc", src)
    with pytest.raises(ValueError, match="not incrementally maintainable"):
        engine.sql("CREATE MATERIALIZED VIEW bad1 AS "
                   "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT v) AS d "
                   "FROM fsrc GROUP BY grp")
    with pytest.raises(ValueError, match="COUNT"):
        engine.sql("CREATE MATERIALIZED VIEW bad2 AS "
                   "SELECT grp, SUM(v) AS total FROM fsrc GROUP BY grp")
    with pytest.raises(ValueError, match="unique"):
        engine.sql("CREATE MATERIALIZED VIEW bad3 AS "
                   "SELECT grp, COUNT(*) AS n, SUM(v) AS n "
                   "FROM fsrc GROUP BY grp")
    engine.sql("CREATE MATERIALIZED VIEW okmv AS "
               "SELECT grp, COUNT(*) AS n FROM fsrc GROUP BY grp")
    with pytest.raises(ValueError, match="not a materialized view"):
        engine.refresh_materialized_view("fsrc")
    # ADVICE r9: a CDF-less source refuses at CREATE (the first
    # incremental refresh would otherwise fail with lost preimages)
    nocdf = TxLogTable.create(spark, tdir + "_nocdf",
                              _df(spark, [(1, "a", 10)]))
    engine.register_txlog("nocdfsrc", nocdf)
    with pytest.raises(ValueError, match="CDF"):
        engine.sql("CREATE MATERIALIZED VIEW bad4 AS "
                   "SELECT grp, COUNT(*) AS n FROM nocdfsrc GROUP BY grp")


def test_materialized_view_null_sum_and_null_group_key(spark, tdir):
    """ADVICE r9 NULL edges, both pinned: (1) a group whose LAST
    non-NULL SUM contributor is deleted returns to SUM = NULL (full
    recompute parity), not an arithmetic 0 — the hidden non-NULL counter
    decides; (2) a NULL grouping key folds into ONE row across repeated
    refreshes (null-safe MERGE key matching), never duplicating."""
    engine = _mv_engine(spark)
    src = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 5), ("a", None), (None, 1)],
                              "grp string, v int"),
        enable_cdf=True)
    engine.register_txlog("nsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW nmv AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total, "
               "AVG(v) AS mean FROM nsrc GROUP BY grp")
    src.delete_where(F.col("v") == 5)
    engine.sql("REFRESH MATERIALIZED VIEW nmv")
    got = {r["grp"]: (r["n"], r["total"], r["mean"])
           for r in engine.sql("SELECT * FROM nmv").collect()}
    assert got["a"] == (1, None, None), \
        "deleting the last non-NULL contributor must NULL the SUM/AVG"
    assert got[None] == (1, 1, 1.0)
    # NULL-key group: two more folds must UPDATE the same row
    src.append(spark.createDataFrame([(None, 10)], "grp string, v int"))
    engine.sql("REFRESH MATERIALIZED VIEW nmv")
    src.append(spark.createDataFrame([(None, 100)], "grp string, v int"))
    engine.sql("REFRESH MATERIALIZED VIEW nmv")
    rows = engine.sql("SELECT * FROM nmv WHERE grp IS NULL").collect()
    assert len(rows) == 1, "NULL-key group duplicated across folds"
    assert (rows[0]["n"], rows[0]["total"]) == (3, 111)
    # hidden maintenance state stays out of the SQL-visible view
    assert not [c for c in engine.sql("SELECT * FROM nmv").columns
                if c.startswith("__mv_")]
    mv = engine.txlog_tables["nmv"]
    assert "__mv_nn_total" in mv.read().columns  # but it IS maintained


def test_materialized_view_decimal_refresh_keeps_scale(spark, tdir):
    """An incremental refresh over a DECIMAL(20,10) column stores the
    from-scratch SUM and AVG to the last digit of scale: the fold
    negates removed values instead of multiplying by an INT sign, which
    widened the sum past 38 digits and made Spark drop scale."""
    from decimal import Decimal

    engine = _mv_engine(spark)
    schema = "grp string, v decimal(20,10)"
    src = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", Decimal("1234567890.1234567891"))],
                              schema),
        enable_cdf=True)
    engine.register_txlog("dsrc", src)
    engine.sql("CREATE MATERIALIZED VIEW dmv AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total, "
               "AVG(v) AS mean FROM dsrc GROUP BY grp")
    src.append(spark.createDataFrame([("a", Decimal("2.0000000003"))],
                                     schema))
    engine.sql("REFRESH MATERIALIZED VIEW dmv")
    got = [tuple(r) for r in engine.txlog_tables["dmv"].read()
           .select("grp", "n", "total", "mean").collect()]
    want = [tuple(r) for r in src.read().groupBy("grp")
            .agg(F.count("*"), F.sum("v"), F.avg("v")).collect()]
    assert got == want
    assert got[0][2] == Decimal("1234567892.1234567894")


def test_materialized_view_minmax_repair_and_where(spark, tdir):
    """MIN/MAX maintenance: inserts fold arithmetically; a delete or
    update that removes a group's extremum triggers the bounded
    per-group repair (recompute scoped to affected keys); the MV WHERE
    clause filters the initial scan AND every fold."""
    engine = _mv_engine(spark)
    src = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame(
            [(1, "a", 1), (2, "a", 9), (3, "b", 4), (4, "b", -7)],
            "k int, grp string, v int"),
        enable_cdf=True)
    engine.register_txlog("msrc", src)
    engine.sql("CREATE MATERIALIZED VIEW mmv AS "
               "SELECT grp, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi "
               "FROM msrc WHERE v >= 0 GROUP BY grp")
    got = {r["grp"]: (r["n"], r["lo"], r["hi"])
           for r in engine.sql("SELECT * FROM mmv").collect()}
    assert got == {"a": (2, 1, 9), "b": (1, 4, 4)}  # -7 filtered out
    # delete the max of 'a' -> repair must find the surviving 1;
    # insert a new max for 'b' -> pure arithmetic fold (GREATEST)
    src.delete_where(F.col("v") == 9)
    src.append(spark.createDataFrame([(5, "b", 6), (6, "b", -1)],
                                     "k int, grp string, v int"))
    engine.sql("REFRESH MATERIALIZED VIEW mmv")
    got = {r["grp"]: (r["n"], r["lo"], r["hi"])
           for r in engine.sql("SELECT * FROM mmv").collect()}
    assert got == {"a": (1, 1, 1), "b": (2, 4, 6)}
    # an update that RAISES a min repairs too (preimage removes 4)
    src.update_where({"v": "v + 100"}, F.col("k") == 3)
    engine.sql("REFRESH MATERIALIZED VIEW mmv")
    got = {r["grp"]: (r["n"], r["lo"], r["hi"])
           for r in engine.sql("SELECT * FROM mmv").collect()}
    assert got == {"a": (1, 1, 1), "b": (2, 6, 104)}


# -- VACUUM LITE ---------------------------------------------------------------

def test_vacuum_lite_collects_from_log_not_listing(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.append(_df(spark, [(3, "c", 30)]))
    t.optimize_compact()  # de-lists the two originals
    # an orphan no commit ever referenced: full VACUUM's job, invisible
    # to LITE by design
    orphan = os.path.join(tdir, "orphan-never-committed.parquet")
    open(orphan, "wb").write(b"x")
    dry = t.vacuum(retention_seconds=0, dry_run=True, lite=True)
    assert dry and all("orphan" not in p for p in dry)
    assert os.path.exists(orphan)
    got = t.vacuum(retention_seconds=0, lite=True)
    assert sorted(got) == sorted(dry)
    assert t.read().count() == 3  # live segments untouched
    assert os.path.exists(orphan)  # LITE never lists, never sees it
    # idempotent: a second LITE run finds nothing new
    assert t.vacuum(retention_seconds=0, lite=True) == []
    # the full walk still catches the orphan
    t.vacuum(retention_seconds=0)
    assert not os.path.exists(orphan)


def test_vacuum_lite_age_guard_uses_commit_ts(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.optimize_compact()
    # removal happened "now"; a 1-hour retention must keep the file
    assert t.vacuum(retention_seconds=3600, lite=True) == []
    assert t.vacuum(retention_seconds=0, lite=True) != []


def test_vacuum_lite_collects_retired_dv_sidecars(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    # REORG rewrites the segment → the DV sidecar is retired
    t.reorg_purge()
    got = t.vacuum(retention_seconds=0, lite=True)
    assert any("_deletion_vectors" in p for p in got)
    assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_vacuum_lite_sql_route(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("vl", t)
    t.optimize_compact()
    out = engine.sql("VACUUM vl LITE RETAIN 0 HOURS").collect()
    assert out[0]["files_removed"] >= 1


# -- NOT NULL column invariants ----------------------------------------------

def test_not_null_invariant_enforced_on_writes(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.set_not_null("v")
    assert t.not_null_columns() == ["v"]
    with pytest.raises(ValueError, match="NOT NULL"):
        t.append(spark.createDataFrame([(2, "b", None)],
                                       "k int, grp string, v int"))
    # MERGE updates are validated too
    with pytest.raises(ValueError, match="NOT NULL"):
        t.merge_upsert(spark.createDataFrame([(1, "a", None)],
                                             "k int, grp string, v int"), "k")
    t.drop_not_null("v")
    t.append(spark.createDataFrame([(2, "b", None)],
                                   "k int, grp string, v int"))
    assert t.read().count() == 2


def test_set_not_null_refuses_existing_nulls_and_guards_ddl(spark, tdir):
    t = TxLogTable.create(spark, tdir, spark.createDataFrame(
        [(1, "a", 10), (2, "b", None)], "k int, grp string, v int"))
    with pytest.raises(ValueError, match="NOT NULL"):
        t.set_not_null("v")
    t.set_not_null("k")
    # idempotent; unknown column refused
    assert t.set_not_null("k") == t.latest_version()
    with pytest.raises(ValueError, match="no such column"):
        t.set_not_null("nope")
    # rename/drop of a NOT NULL column refused until the invariant drops
    with pytest.raises(ValueError, match="NOT NULL column"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="NOT NULL column"):
        t.rename_column("k", "kk")
    # survives checkpoint-based metadata resolution
    t.checkpoint_interval = 2
    for i in range(4):
        t.append(spark.createDataFrame([(10 + i, "s", 1)],
                                       "k int, grp string, v int"))
    assert t.not_null_columns() == ["k"]


def test_engine_sql_not_null_route(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("nn", t)
    engine.sql("ALTER TABLE nn ALTER COLUMN v SET NOT NULL")
    assert t.not_null_columns() == ["v"]
    with pytest.raises(ValueError, match="NOT NULL"):
        t.append(spark.createDataFrame([(2, "b", None)],
                                       "k int, grp string, v int"))
    engine.sql("ALTER TABLE nn ALTER COLUMN v DROP NOT NULL")
    assert t.not_null_columns() == []


# -- shallow clone -----------------------------------------------------------

def test_shallow_clone_zero_copy_and_isolation(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    dest = str(tmp_path / "clone")
    c = t.clone_to(dest)
    # zero copy: the clone root holds no data files of its own
    assert not any(p.startswith("data-") for p in os.listdir(dest))
    assert sorted(tuple(r) for r in c.read().collect()) == \
        [(1, "a", 10), (2, "b", 20)]
    # clone evolves independently; source never observes it
    c.merge_upsert(_df(spark, [(2, "b", 99), (5, "c", 50)]), "k")
    assert sorted(tuple(r) for r in c.read().collect()) == \
        [(1, "a", 10), (2, "b", 99), (5, "c", 50)]
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "b", 20)]
    # clone-side vacuum walks only its own dirs: shared segments survive
    c.vacuum(retention_seconds=0)
    assert t.read().count() == 2 and c.read().count() == 3


def test_shallow_clone_of_version_snapshot(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    c = t.clone_to(str(tmp_path / "clone0"), version=0)
    assert sorted(tuple(r) for r in c.read().collect()) == [(1, "a", 10)]


def test_shallow_clone_of_partitioned_source(spark, tdir, tmp_path):
    # VERDICT r6 item 3: partitioned sources clone now — partition
    # columns for cloned-in segments come from the recorded
    # partitionValues, not from basePath (which cannot span two roots).
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20),
                                                   (3, "a", 30)]),
                          partition_by="grp")
    c = t.clone_to(str(tmp_path / "c1"))
    assert sorted((r["k"], r["grp"], r["v"]) for r in c.read().collect()) == \
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    # partition column type survives the recorded-metadata recovery
    assert dict(c.read().dtypes)["grp"] == "string"
    # clone evolves independently, with its own Hive-layout writes...
    c.append(_df(spark, [(4, "c", 40)]))
    assert sorted((r["k"], r["grp"], r["v"]) for r in c.read().collect()) == \
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40)]
    assert t.read().count() == 3
    # ...and copy-on-write DML against shared segments stays isolated
    c.delete_where(F.col("k") == 1)
    assert sorted(r["k"] for r in c.read().collect()) == [2, 3, 4]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    # partition pruning from recorded metadata still works on the clone
    kept, total = c.prune_files([("grp", "=", "a")])
    assert 0 < len(kept) < total


def test_shallow_clone_of_dv_source(spark, tdir, tmp_path):
    # VERDICT r6 item 3: DV'd sources clone by re-keying the sidecars
    # (O(tombstones)) into the clone's coordinate space; data segments
    # are still never copied.
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20),
                                                   (3, "c", 30)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    c = t.clone_to(str(tmp_path / "c2"))
    # tombstoned row stays deleted in the clone; no data dirs copied
    assert sorted(r["k"] for r in c.read().collect()) == [2, 3]
    assert not any(p.startswith("data-")
                   for p in os.listdir(str(tmp_path / "c2")))
    # clone-side DV delete does not leak back to the source
    c.delete_where(F.col("k") == 2, use_dv=True)
    assert sorted(r["k"] for r in c.read().collect()) == [3]
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    # source-side OPTIMIZE after the clone: clone still reads version 0
    t.optimize_compact()
    assert sorted(r["k"] for r in c.read().collect()) == [3]


# -- deep clone + incremental refresh ----------------------------------------

def test_deep_clone_survives_source_vacuum(spark, tdir, tmp_path):
    # DEEP CLONE copies segment bytes into the clone root, so a source
    # rewrite + retention-0 VACUUM (which ghosts a shallow clone) leaves
    # the deep clone fully readable.
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20),
                                                   (3, "c", 30)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    dest = str(tmp_path / "deep")
    c = t.clone_to(dest, mode="deep")
    # deep: the clone root DOES hold its own data files
    assert any(p.startswith("data-") for p in os.listdir(dest))
    assert sorted(r["k"] for r in c.read().collect()) == [2, 3]
    t.optimize_compact()
    t.vacuum(retention_seconds=0)
    assert sorted(r["k"] for r in c.read().collect()) == [2, 3]


def test_deep_clone_incremental_refresh(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    dest = str(tmp_path / "deep")
    c = t.clone_to(dest, mode="deep")
    before = {p for p in os.listdir(dest) if p.startswith("data-")}
    # source gains a segment and a DV tombstone
    t.append(_df(spark, [(3, "c", 30), (4, "d", 40)]))
    t.delete_where(F.col("k") == 2, use_dv=True)
    v = c.clone_refresh()
    assert v == c.latest_version()
    assert sorted(r["k"] for r in c.read().collect()) == [1, 3, 4]
    # incremental: pre-existing copies were NOT re-copied, only new
    # segments landed
    after = {p for p in os.listdir(dest) if p.startswith("data-")}
    assert before <= after and len(after) > len(before)
    # idempotent: source unchanged → no-op, no new commit
    assert c.clone_refresh() == v
    # source compaction de-lists old segments; refresh follows suit
    t.optimize_compact()
    v2 = c.clone_refresh()
    assert v2 == v + 1
    assert sorted(r["k"] for r in c.read().collect()) == [1, 3, 4]
    # de-listed local copies are vacuum-collectible on the CLONE side
    c.vacuum(retention_seconds=0)
    assert sorted(r["k"] for r in c.read().collect()) == [1, 3, 4]


def test_deep_clone_of_shallow_clone_flattens_foreign_segments(spark, tdir,
                                                               tmp_path):
    # A deep clone OF a shallow clone copies the shallow clone's
    # FOREIGN (source-rooted) segments into its own imported/ landing —
    # deterministic names so refresh recognizes them — and recovers
    # partition columns from the recorded stats (imported files carry
    # no hive dirs).
    src = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                     (2, "b", 20),
                                                     (3, "a", 30)]),
                            partition_by="grp")
    sh = src.clone_to(str(tmp_path / "sh"))
    deep = sh.clone_to(str(tmp_path / "deep"), mode="deep")
    assert sorted((r["k"], r["grp"]) for r in deep.read().collect()) == \
        [(1, "a"), (2, "b"), (3, "a")]
    assert dict(deep.read().dtypes)["grp"] == "string"
    assert os.path.isdir(str(tmp_path / "deep" / "imported"))
    # partition pruning still works from the recorded partitionValues
    kept, total = deep.prune_files([("grp", "=", "a")])
    assert 0 < len(kept) < total
    # refresh follows the SHALLOW source's own evolution
    sh.append(_df(spark, [(4, "c", 40)]))
    deep.clone_refresh()
    assert sorted(r["k"] for r in deep.read().collect()) == [1, 2, 3, 4]
    # once the shallow source compacts (its segments become its own),
    # refresh de-lists the imported copies and the clone's FULL vacuum
    # collects them (the walk covers the imported/ landing)
    sh.optimize_compact()
    deep.clone_refresh()
    deep.vacuum(retention_seconds=0)
    imp = str(tmp_path / "deep" / "imported")
    leftover = ([f for f in os.listdir(imp) if f.endswith(".parquet")]
                if os.path.isdir(imp) else [])
    assert leftover == []
    # the ORIGINAL source rewriting + vacuuming ghosts the shallow
    # clone but never the deep one
    src.optimize_compact()
    src.vacuum(retention_seconds=0)
    assert sorted(r["k"] for r in deep.read().collect()) == [1, 2, 3, 4]


def test_deep_clone_refresh_refusals(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    shallow = t.clone_to(str(tmp_path / "sh"))
    with pytest.raises(ValueError, match="not a deep clone"):
        shallow.clone_refresh()
    deep = t.clone_to(str(tmp_path / "dp"), mode="deep")
    deep.append(_df(spark, [(9, "z", 90)]))
    t.append(_df(spark, [(2, "b", 20)]))
    with pytest.raises(ValueError, match="diverged"):
        deep.clone_refresh()


def test_deep_clone_carries_schema_evolution_on_refresh(spark, tdir,
                                                        tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    c = t.clone_to(str(tmp_path / "dp"), mode="deep")
    t.add_column("extra", "bigint")
    t.append(spark.createDataFrame([(2, "b", 20, 99)],
                                   "k int, grp string, v int, extra bigint"))
    c.clone_refresh()
    rows = sorted((r["k"], r["extra"]) for r in c.read().collect())
    assert rows == [(1, None), (2, 99)]


def test_deep_clone_sql_route_and_or_replace_refresh(spark, tdir, tmp_path):
    from distributed_database_for_sql_spark.engine import Engine
    engine = Engine(spark, "/root/testdata/sf0.001")
    t = TxLogTable.create(spark, str(tmp_path / "srct"),
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("srct", t)
    out = engine.sql("CREATE TABLE deept DEEP CLONE srct").collect()
    assert out[0]["table_name"] == "deept"
    assert sorted(r["k"] for r in
                  engine.sql("SELECT k FROM deept").collect()) == [1, 2]
    t.append(_df(spark, [(3, "c", 30)]))
    # the Databricks re-clone idiom runs the INCREMENTAL refresh
    engine.sql("CREATE OR REPLACE TABLE deept DEEP CLONE srct")
    assert sorted(r["k"] for r in
                  engine.sql("SELECT k FROM deept").collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="VERSION AS OF"):
        engine.sql(
            "CREATE OR REPLACE TABLE deept DEEP CLONE srct VERSION AS OF 0")
    # OR REPLACE is ONLY the deep re-clone idiom: a SHALLOW mode or an
    # unregistered dest refuses with a clear message (not clone_to's
    # misleading concurrent-create FileExistsError)
    with pytest.raises(ValueError, match="SHALLOW clones track"):
        engine.sql("CREATE OR REPLACE TABLE deept SHALLOW CLONE srct")
    with pytest.raises(ValueError, match="not a registered table"):
        engine.sql("CREATE OR REPLACE TABLE fresh_dest DEEP CLONE srct")


# -- OPTIMIZE ZORDER ---------------------------------------------------------

def test_zorder_preserves_values_and_prunes_both_dims(spark, tdir):
    big = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        F.col("id").alias("payload"))
    t = TxLogTable.create(spark, tdir, big.repartition(8))
    t.optimize_compact(zorder_by=["x", "y"])
    # layout-only: same rows
    assert t.read().count() == 4096
    assert t.read().agg(F.sum("payload")).collect()[0][0] == 4096 * 4095 // 2
    # ZORDER keeps the segment count (re-layout, not compaction)
    files, _ = t._snapshot_files()
    assert len(files) == 8
    # both single-dimension predicates now prune files
    kept_x, total = t.prune_files([("x", "between", (10, 12))])
    kept_y, _ = t.prune_files([("y", "between", (10, 12))])
    assert len(kept_x) < total and len(kept_y) < total
    assert t.history()[-1]["zorderBy"] == ["x", "y"]


def test_engine_sql_optimize_routes(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    big = spark.range(0, 512).select(
        (F.col("id") % 16).cast("int").alias("x"),
        (F.col("id") / 16).cast("int").alias("y"),
        F.col("id").alias("payload"))
    t = TxLogTable.create(spark, tdir, big.repartition(6))
    engine.register_txlog("zt", t)
    engine.sql("OPTIMIZE zt ZORDER BY (x, y)")
    assert t.history()[-1]["zorderBy"] == ["x", "y"]
    assert len(t._snapshot_files()[0]) == 6
    engine.sql("OPTIMIZE zt")  # plain OPTIMIZE compacts
    assert len(t._snapshot_files()[0]) == 2
    assert t.read().count() == 512


def test_engine_sql_describe_history_and_clone(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(2, "b", 99)]), "k")
    engine.register_txlog("ht", t)
    hist = engine.sql("DESCRIBE HISTORY ht").collect()
    assert [r["operation"] for r in hist] == ["CREATE", "MERGE"]
    assert hist[0]["version"] == 0 and hist[1]["version"] == 1
    import json as _json
    metrics = _json.loads(hist[1]["operation_metrics"])
    assert metrics["filesRewritten"] >= 1
    # SHALLOW CLONE statement: registers the clone; SELECTs see its rows
    ack = engine.sql("CREATE TABLE ht_dev SHALLOW CLONE ht").collect()[0]
    assert ack["table_name"] == "ht_dev" and ack["version"] == 0
    got = {(r["k"], r["v"]) for r in engine.sql(
        "SELECT k, v FROM ht_dev").collect()}
    assert got == {(1, 10), (2, 99)}
    # version-pinned clone
    engine.sql("CREATE TABLE ht_v0 SHALLOW CLONE ht VERSION AS OF 0")
    got0 = {(r["k"], r["v"]) for r in engine.sql(
        "SELECT k, v FROM ht_v0").collect()}
    assert got0 == {(1, 10), (2, 20)}


# -- protocol fencing + metadata-only count ----------------------------------

def test_protocol_default_and_dv_bump(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    assert t.protocol() == {"minReaderVersion": 1, "minWriterVersion": 2}
    t.delete_where(F.col("k") == 1, use_dv=True)
    assert t.protocol()["minReaderVersion"] == 3
    # protocol at the pre-DV version is still the old one (time travel)
    assert t.protocol(version=0)["minReaderVersion"] == 1
    # a second DV delete must not re-bump (single protocol action)
    t.append(_df(spark, [(3, "c", 30)]))
    t.delete_where(F.col("k") == 3, use_dv=True)
    protos = [a for v in range(t.latest_version() + 1)
              for a in t._read_commit(v) if "protocol" in a]
    assert len(protos) == 2  # CREATE default + one DV bump


def test_protocol_fences_old_reader(spark, tdir, monkeypatch):
    from distributed_database_for_sql_spark.sources import txlog as txmod

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    monkeypatch.setattr(txmod, "_SUPPORTED_READER_VERSION", 2)
    with pytest.raises(RuntimeError, match="minReaderVersion"):
        t.read().collect()
    # the pre-DV snapshot is still readable by the old reader
    assert t.read(version=0).count() == 2


def test_count_rows_metadata_only(spark, tdir):
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(i, "a", i) for i in range(50)]))
    t.append(_df(spark, [(i, "b", i) for i in range(50, 80)]))
    n, meta = t.count_rows()
    assert (n, meta) == (80, True)
    # DV tombstones subtract exactly, still without scanning
    t.delete_where(F.col("k") % 3 == 0, use_dv=True)
    expected = sum(1 for i in range(80) if i % 3 != 0)
    n, meta = t.count_rows()
    assert (n, meta) == (expected, True)
    # stacked DVs never double-subtract a position
    t.delete_where(F.col("k") % 5 == 0, use_dv=True)
    expected = sum(1 for i in range(80) if i % 3 != 0 and i % 5 != 0)
    n, meta = t.count_rows()
    assert (n, meta) == (expected, True)
    assert n == t.read().count()
    # time travel counts the old snapshot
    assert t.count_rows(version=0) == (50, True)


def test_count_rows_falls_back_without_stats(spark, tdir):
    import json as _json

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    # strip the stats from the CREATE commit (simulates a pre-stats
    # writer); count must fall back to a scan and stay correct
    fp = os.path.join(t.log_dir, "00000000.json")
    actions = [_json.loads(line) for line in open(fp)]
    for a in actions:
        if "add" in a:
            a["add"]["stats"] = None
    with open(fp, "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    n, meta = t.count_rows()
    assert (n, meta) == (2, False)


def test_engine_sql_select_time_travel(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_upsert(_df(spark, [(2, "b", 99)]), "k")
    engine.register_txlog("tt", t)
    # current snapshot vs VERSION AS OF 0 in ONE statement
    got = engine.sql(
        "SELECT cur.k, cur.v AS v_now, old.v AS v_then "
        "FROM tt AS cur JOIN tt VERSION AS OF 0 AS old USING (k) "
        "ORDER BY cur.k").collect()
    assert [(r["k"], r["v_now"], r["v_then"]) for r in got] == \
        [(1, 10, 10), (2, 99, 20)]
    # TIMESTAMP AS OF resolves through version_at_timestamp
    ts0 = t.history()[0]["ts"]
    got0 = engine.sql(
        f"SELECT k, v FROM tt TIMESTAMP AS OF {ts0} ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in got0] == [(1, 10), (2, 20)]
    # RESTORE's own VERSION AS OF clause is untouched by the rewrite
    engine.sql("RESTORE TABLE tt TO VERSION AS OF 0")
    assert {(r["k"], r["v"]) for r in t.read().collect()} == \
        {(1, 10), (2, 20)}


# -- generated columns -------------------------------------------------------

def test_generated_column_computed_and_validated(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (6, "b", 20)]),
                          generated_columns={"parity": "k % 2"})
    got = {(r["k"], r["parity"]) for r in t.read().collect()}
    assert got == {(1, 1), (6, 0)}
    # append without the column: computed
    t.append(_df(spark, [(3, "c", 30)]))
    assert {(r["k"], r["parity"]) for r in t.read().collect()} == \
        {(1, 1), (6, 0), (3, 1)}
    # append WITH the column: validated (wrong value rejected)
    bad = _df(spark, [(4, "d", 40)]).withColumn("parity", F.lit(1))
    with pytest.raises(ValueError, match="generated column"):
        t.append(bad)
    ok = _df(spark, [(4, "d", 40)]).withColumn("parity", F.lit(0))
    t.append(ok)
    assert t.read().count() == 4


def test_generated_column_update_recomputes(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          generated_columns={"parity": "k % 2"})
    # direct SET of a generated column is refused
    with pytest.raises(ValueError, match="derived"):
        t.update_where({"parity": "0"}, F.col("k") == 1)
    # updating the dependency recomputes the derived value
    t.update_where({"k": "k + 1"}, F.col("k") == 1)
    got = {(r["k"], r["parity"]) for r in t.read().collect()}
    assert got == {(2, 0), (2, 0)} or got == {(2, 0)}
    assert all(r["parity"] == r["k"] % 2 for r in t.read().collect())


def test_generated_column_merge_and_clone_carry(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          generated_columns={"parity": "k % 2"})
    t.merge_upsert(_df(spark, [(2, "b", 22)]), "k")  # computed on merge
    assert {(r["k"], r["parity"]) for r in t.read().collect()} == \
        {(1, 1), (2, 0)}
    c = t.clone_to(str(tmp_path / "gc"))
    c.append(_df(spark, [(5, "e", 50)]))  # clone inherits the definition
    assert {(r["k"], r["parity"]) for r in c.read().collect()} == \
        {(1, 1), (2, 0), (5, 1)}


def test_generated_partition_column(spark, tdir):
    t = TxLogTable.create(
        spark, tdir, _df(spark, [(i, "g", i * 10) for i in range(8)]),
        partition_by="parity", generated_columns={"parity": "k % 2"})
    # Hive layout on the derived column
    assert any(p.startswith("parity=") for p in os.listdir(tdir))
    kept, total = t.prune_files([("parity", "=", "1")])
    assert len(kept) < total
    got = t.read_where([("parity", "=", "1")])
    assert sorted(r["k"] for r in got.collect()) == [1, 3, 5, 7]


# -- bloom filter index ------------------------------------------------------

def test_bloom_index_point_lookup_skips(spark, tdir):
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    t = TxLogTable.create(spark, tdir, df.repartition(8, "k"),
                          bloom_filter_columns=["k"])
    # hash layout: min/max overlap everywhere, range stats prune nothing
    # — but the bloom skips most files for a point key
    kept, total = t.prune_files([("k", "=", 777)])
    assert total == 8 and len(kept) < total
    # no false negatives: every present key's file survives pruning
    got = t.read_where([("k", "=", 777)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(777, 2331)]
    # absent key: typically every file pruned (bloom negative is proof)
    kept_absent, _ = t.prune_files([("k", "=", 999999)])
    assert len(kept_absent) <= 1  # allow one false positive
    assert t.read_where([("k", "=", 999999)]).count() == 0


def test_bloom_survives_append_checkpoint_and_clone(spark, tdir, tmp_path):
    df = spark.range(0, 100).select(F.col("id").alias("k"),
                                    F.col("id").alias("v"))
    t = TxLogTable.create(spark, tdir, df.repartition(4, "k"),
                          bloom_filter_columns=["k"])
    t.checkpoint_interval = 1
    t.append(spark.range(100, 200).select(
        F.col("id").alias("k"), F.col("id").alias("v")).repartition(4, "k"))
    # appended segments got blooms too, and the checkpoint carries them
    active, _ = t._snapshot(None)
    assert all(s and s.get("bloom", {}).get("k") for s in active.values())
    kept, total = t.prune_files([("k", "=", 150)])
    assert len(kept) < total
    assert t.read_where([("k", "=", 150)]).count() == 1
    # shallow clone inherits the index definition for its own writes
    c = t.clone_to(str(tmp_path / "bc"))
    c.append(spark.range(200, 250).select(
        F.col("id").alias("k"), F.col("id").alias("v")))
    ca, _ = c._snapshot(None)
    assert all(s and s.get("bloom", {}).get("k") for s in ca.values())


def test_bloom_string_column(spark, tdir):
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(i, f"g{i % 13}", i) for i in range(200)])
        .repartition(6, "grp"),
        bloom_filter_columns=["grp"])
    kept, total = t.prune_files([("grp", "=", "g7")])
    assert len(kept) < total
    assert t.read_where([("grp", "=", "g7")]).count() == \
        sum(1 for i in range(200) if i % 13 == 7)


# -- CONVERT TO DELTA (in-place adoption) ------------------------------------

def test_convert_adopts_flat_parquet_in_place(spark, tdir):
    _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]) \
        .repartition(2).write.parquet(tdir)
    before = sorted(os.listdir(tdir))
    t = TxLogTable.convert_from_parquet(spark, tdir)
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    # zero copy: only the log dir appeared
    after = sorted(p for p in os.listdir(tdir) if p != "_txlog")
    assert after == before
    assert t.history()[0]["op"] == "CONVERT"
    # stats were harvested at adoption: metadata count works immediately
    assert t.count_rows() == (3, True)
    # double convert refused
    with pytest.raises(FileExistsError):
        TxLogTable.convert_from_parquet(spark, tdir)


def test_convert_then_dml_and_vacuum(spark, tdir):
    _df(spark, [(i, "g", i) for i in range(20)]) \
        .repartition(2).write.parquet(tdir)
    t = TxLogTable.convert_from_parquet(spark, tdir)
    t.merge_upsert(_df(spark, [(5, "g", 555), (99, "x", 99)]), "k")
    got = dict((r["k"], r["v"]) for r in t.read().collect())
    assert got[5] == 555 and got[99] == 99 and len(got) == 21
    # the merge de-listed the adopted root files; vacuum collects them
    removed = t.vacuum(retention_seconds=0)
    assert any(p.endswith(".parquet") and "/" not in p for p in removed)
    assert len(dict((r["k"], r["v"]) for r in t.read().collect())) == 21


def test_convert_hive_partitioned_layout(spark, tdir):
    (_df(spark, [(i, "g" + str(i % 3), i) for i in range(30)])
     .write.partitionBy("grp").parquet(tdir))
    t = TxLogTable.convert_from_parquet(spark, tdir)
    assert t._partition_columns() == ["grp"]
    assert t.read().count() == 30
    # partition pruning from adopted metadata
    kept, total = t.prune_files([("grp", "=", "g1")])
    assert len(kept) < total
    got = t.read_where([("grp", "=", "g1")])
    assert sorted(r["k"] for r in got.collect()) == \
        [i for i in range(30) if i % 3 == 1]


# -- column mapping (metadata-only RENAME / DROP COLUMN) ---------------------

def test_rename_column_is_metadata_only(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    files_before, _ = t._snapshot_files()
    t.rename_column("v", "val")
    files_after, _ = t._snapshot_files()
    assert files_before == files_after, "rename must touch no data file"
    got = sorted((r["k"], r["grp"], r["val"]) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20)]
    assert "v" not in t.read().columns
    # physical files still carry the OLD name
    import pyarrow.parquet as pq
    assert "v" in pq.ParquetFile(files_before[0]).schema_arrow.names
    # time travel to before the rename shows the old name
    assert "v" in t.read(version=0).columns
    assert "val" not in t.read(version=0).columns


def test_renamed_column_writes_and_dml(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.rename_column("v", "val")
    # append + merge under the NEW logical name
    t.append(spark.createDataFrame([(3, "c", 30)], "k int, grp string, val int"))
    t.merge_upsert(
        spark.createDataFrame([(2, "b", 99)], "k int, grp string, val int"),
        "k")
    t.update_where({"val": "val + 1"}, F.col("k") == 1)
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got == {1: 11, 2: 99, 3: 30}
    # stats-based pruning translates the logical predicate name
    kept, total = t.prune_files([("val", "=", 99)])
    assert kept and len(kept) <= total


def test_drop_column_hides_and_retires(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    files_before, _ = t._snapshot_files()
    t.drop_column("grp")
    assert t._snapshot_files()[0] == files_before
    assert sorted(t.read().columns) == ["k", "v"]
    # re-introducing the dropped name is refused (stale resurrection)
    with pytest.raises(ValueError, match="re-introduce"):
        t.append(_df(spark, [(3, "x", 30)]))
    # a different name evolves fine
    t.append(spark.createDataFrame([(3, 30, "x")],
                                   "k int, v int, grp2 string"))
    assert t.read().count() == 3
    with pytest.raises(ValueError):
        t.drop_column("nope")


def test_rename_drop_refuse_dependent_columns(spark, tdir, tmp_path):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          partition_by="grp")
    with pytest.raises(ValueError, match="partition"):
        t.rename_column("grp", "g2")
    t2 = TxLogTable.create(spark, str(tmp_path / "t2"),
                           _df(spark, [(1, "a", 10)]),
                           generated_columns={"parity": "k % 2"})
    with pytest.raises(ValueError, match="generated"):
        t2.drop_column("parity")
    t3 = TxLogTable.create(spark, str(tmp_path / "t3"),
                           _df(spark, [(1, "a", 10)]))
    t3.add_constraint("v_pos", "v > 0")
    with pytest.raises(ValueError, match="constraint"):
        t3.rename_column("v", "val")
    t3.drop_constraint("v_pos")
    t3.rename_column("v", "val")  # now fine
    assert "val" in t3.read().columns


def test_engine_sql_rename_drop_column_routes(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("cm", t)
    engine.sql("ALTER TABLE cm RENAME COLUMN v TO val")
    got = {(r["k"], r["val"]) for r in engine.sql(
        "SELECT k, val FROM cm").collect()}
    assert got == {(1, 10), (2, 20)}
    engine.sql("ALTER TABLE cm DROP COLUMN grp")
    assert sorted(engine.sql("SELECT * FROM cm").columns) == ["k", "val"]


def test_commit_timestamps_strictly_increase(spark, tdir):
    """In-commit-timestamp monotonicity: rapid same-millisecond commits
    (and a stepping clock) must still yield a total order, or
    timestampAsOf resolution becomes ambiguous."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    for i in range(4):
        t.append(_df(spark, [(10 + i, "s", i)]))
    ts = [h["ts"] for h in t.history()]
    assert ts == sorted(ts) and len(set(ts)) == len(ts), ts
    # timestampAsOf at each commit's exact ts resolves to that version
    for v, h in enumerate(t.history()):
        assert t.version_at_timestamp(h["ts"]) == v


# -- LogStore abstraction (VERDICT r6 item 2) --------------------------------

def test_log_store_race_commuting_append_retries_with_fresh_ts(spark, tdir,
                                                               tmp_path):
    """Inject a racing LogStore: a rival 'node' claims the version our
    append targets, FIRST.  The append must (a) lose the claim, (b)
    retry and land at the next version, and (c) re-stamp its commit ts
    so in-commit timestamps stay strictly monotonic even though the
    rival committed a FUTURE ts while we were writing (ADVICE r6).
    Proves conflict detection lives in the protocol, not in POSIX."""
    import json as _json

    from distributed_database_for_sql_spark.sources.txlog import LogStore

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    rival_ts = int(__import__("time").time() * 1000) + 10_000

    class RacingStore(LogStore):
        fired = False

        def put_if_absent(self, path, data):
            if not self.fired and os.path.basename(path) == "00000001.json":
                self.fired = True
                rival = _json.dumps(
                    {"commit": {"op": "APPEND", "ts": rival_ts}}) + "\n"
                assert super().put_if_absent(path, rival.encode())
            return super().put_if_absent(path, data)

    racy = TxLogTable(spark, tdir, log_store=RacingStore())
    racy.append(_df(spark, [(2, "b", 20)]))
    assert racy.latest_version() == 2  # rival took v1; we landed v2
    assert sorted(r["k"] for r in racy.read().collect()) == [1, 2]
    ts = [h["ts"] for h in racy.history()]
    assert ts == sorted(ts) and len(set(ts)) == len(ts), \
        f"non-monotonic in-commit ts after claim race: {ts}"
    assert ts[-1] > rival_ts


def test_log_store_race_conflicting_merge_raises(spark, tdir):
    """Same injection, conflicting payload: the rival commit records a
    MERGE key range overlapping ours — the retry must RAISE (write-skew
    window), with detection driven purely by log content read back
    through the store."""
    import json as _json

    from distributed_database_for_sql_spark.sources.txlog import LogStore

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))

    class RacingStore(LogStore):
        fired = False

        def put_if_absent(self, path, data):
            if not self.fired and os.path.basename(path) == "00000001.json":
                self.fired = True
                rival = _json.dumps(
                    {"commit": {"op": "MERGE",
                                "ts": int(__import__("time").time() * 1000),
                                "keyRange": {"column": "k",
                                             "min": 1, "max": 9}}}) + "\n"
                assert super().put_if_absent(path, rival.encode())
            return super().put_if_absent(path, data)

    racy = TxLogTable(spark, tdir, log_store=RacingStore())
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        racy.merge_upsert(_df(spark, [(2, "b", 99)]), "k")


# -- checkpoint read-path bound (VERDICT r6 item 8) --------------------------

def test_checkpoint_bounds_commit_reads(spark, tdir):
    """Snapshot resolution on a long log must read ≤ checkpoint_interval
    commit files (the suffix after the last checkpoint) plus the
    manifest — read-CALL counting, not wall time.  This is the property
    that keeps a 100k-commit streaming table's read path O(interval)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          )
    t.checkpoint_interval = 4
    for i in range(10):
        t.append(_df(spark, [(100 + i, "s", i)]))
    latest = t.latest_version()
    assert latest == 10
    fresh = TxLogTable(spark, tdir, checkpoint_interval=4)
    reads: list[int] = []
    orig = fresh._read_commit

    def counting_read(v):
        reads.append(v)
        return orig(v)

    fresh._read_commit = counting_read
    active, schema_json = fresh._snapshot()
    assert len(active) >= 11 and schema_json is not None
    suffix = [v for v in reads if v <= latest]
    # last checkpoint at v8 (interval 4): only commits 9..10 replayed
    assert set(suffix) <= {9, 10}, f"unbounded replay: read {sorted(set(reads))}"
    assert len(suffix) <= fresh.checkpoint_interval
    # the METADATA readers are checkpoint-bounded too (r7: _meta_state)
    # — every read() consults them, so an O(N) replay here would defeat
    # the snapshot bound
    reads.clear()
    fresh._partition_columns()
    fresh._column_mapping()
    fresh._column_mapping_mode()
    fresh._generated_columns()
    fresh.protocol()
    assert set(reads) <= {9, 10}, \
        f"metadata resolution replayed the whole log: {sorted(set(reads))}"


# -- bloom probe type-insensitivity (ADVICE r6, medium) ----------------------

def test_bloom_probe_type_mismatch_is_not_proof_of_absence(spark, tdir):
    """A point probe whose literal type differs from the stored column
    type (float 5.0 / string '5' against an int column) must NOT let the
    bloom prune the file that holds the matching row — that was a wrong-
    results bug, not a performance bug (ADVICE r6)."""
    from distributed_database_for_sql_spark.sources.txlog import (
        _bloom_canon, _bloom_may_contain, _build_bloom)

    bloom = _build_bloom([5, 17, 940], 3)
    assert _bloom_may_contain(bloom, 5)
    assert _bloom_may_contain(bloom, 5.0), "float probe vs int column"
    assert _bloom_may_contain(bloom, "5"), "string probe vs int column"
    assert not _bloom_may_contain(bloom, 6)
    # canonical forms collapse exactly the ==-equal family
    assert _bloom_canon(5) == _bloom_canon(5.0) == _bloom_canon("5")
    assert _bloom_canon(True) == _bloom_canon(1)  # bool IS 1 under ==
    assert _bloom_canon("abc") != _bloom_canon(5)

    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(5, "a", 50), (6, "b", 60)]),
                          bloom_filter_columns=["k"])
    t.append(_df(spark, [(900, "z", 1)]))
    # float/string probes keep the file holding k=5; exact semantics of
    # read_where (= residual filter) still apply
    kept_f, total = t.prune_files([("k", "=", 5.0)])
    assert kept_f, "float probe must not prune the matching file"
    assert sorted(r["k"] for r in t.read_where([("k", "=", 5.0)]).collect()) \
        == [5]
    # a truly-absent key still prunes (the index keeps working)
    kept_absent, _ = t.prune_files([("k", "=", 777)])
    assert len(kept_absent) < total


# -- convert layout refusals (ADVICE r6) -------------------------------------

def test_convert_refuses_ambiguous_layouts(spark, tmp_path):
    """CONVERT must loudly refuse layouts it cannot fully model instead
    of silently adopting a partial file set (ADVICE r6)."""
    # mixed root parquet + hive dirs
    mixed = str(tmp_path / "mixed")
    _df(spark, [(1, "a", 1)]).write.parquet(mixed)
    (_df(spark, [(2, "b", 2)]).write.mode("append")
     .partitionBy("grp").parquet(mixed))
    with pytest.raises(ValueError, match="mixed layout"):
        TxLogTable.convert_from_parquet(spark, mixed)
    # two distinct partition keys at the top level
    multi = str(tmp_path / "multi")
    os.makedirs(os.path.join(multi, "a=1"))
    os.makedirs(os.path.join(multi, "b=2"))
    _df(spark, [(1, "a", 1)]).write.parquet(os.path.join(multi, "a=1", "x"))
    with pytest.raises(ValueError, match="multiple"):
        TxLogTable.convert_from_parquet(spark, multi)
    # nested partition levels
    nested = str(tmp_path / "nested")
    (_df(spark, [(1, "a", 1), (2, "b", 2)])
     .withColumn("g2", F.col("v") % 2).write
     .partitionBy("grp", "g2").parquet(nested))
    with pytest.raises(ValueError, match="nested"):
        TxLogTable.convert_from_parquet(spark, nested)


def test_engine_time_travel_literal_safety_and_quoted_ts(spark, tdir):
    """ADVICE r6: the VERSION/TIMESTAMP AS OF rewrite must not touch
    matching text INSIDE string literals; TIMESTAMP AS OF accepts an
    ISO-8601 quoted timestamp (UTC) as well as epoch millis, and a
    malformed quoted timestamp raises a clear error."""
    from datetime import datetime, timezone

    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    engine.register_txlog("tt", t)
    # pattern inside a literal: must survive verbatim, not become a view
    got = engine.sql(
        "SELECT 'tt VERSION AS OF 0' AS s, count(*) AS n FROM tt GROUP BY s"
    ).collect()
    assert [(r["s"], r["n"]) for r in got] == [("tt VERSION AS OF 0", 2)]
    # quoted ISO timestamp: resolve via version_at_timestamp (UTC)
    ts0 = t.history()[0]["ts"]
    iso = datetime.fromtimestamp(ts0 / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f")
    got0 = engine.sql(
        f"SELECT k FROM tt TIMESTAMP AS OF '{iso}' ORDER BY k").collect()
    assert [r["k"] for r in got0] == [1]
    # malformed quoted timestamp: clear error, not a silent regex miss
    with pytest.raises(ValueError, match="ISO-8601"):
        engine.sql("SELECT * FROM tt TIMESTAMP AS OF 'not a time'")
    # VERSION AS OF refuses a quoted operand
    with pytest.raises(ValueError, match="integer version"):
        engine.sql("SELECT * FROM tt VERSION AS OF '0'")


# -- multi-statement transactions (VERDICT r6 item 6) ------------------------

def test_txn_batch_atomic_commit_and_read_your_writes(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20),
                                      (3, "a", 30)]))
    engine.register_txlog("tx", t)
    ack = engine.sql(
        "BEGIN; "
        "UPDATE tx SET v = v + 1 WHERE grp = 'a'; "
        "DELETE FROM tx WHERE k = 2; "
        "COMMIT").collect()
    assert [(r["table_name"], r["version"], r["statements"])
            for r in ack] == [("tx", 1, 2)]
    # ONE commit carries both statements: versions = CREATE + TXN
    hist = t.history()
    assert [h["op"] for h in hist] == ["CREATE", "TXN"]
    assert hist[-1]["statements"] == 2
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 11), (3, "a", 31)]
    # the DELETE saw the UPDATE's effect (read-your-writes): v0 is intact
    assert sorted(tuple(r) for r in t.read(version=0).collect()) == \
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)]


def test_txn_batch_rollback_on_failure(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("txr", t)
    with pytest.raises(Exception):
        engine.sql("BEGIN; "
                   "UPDATE txr SET v = v + 1 WHERE k = 1; "
                   "UPDATE txr SET nope = 1 WHERE k = 1; "  # unknown column
                   "COMMIT")
    # nothing committed, nothing staged, handle reusable
    assert t.latest_version() == 0
    assert [h["op"] for h in t.history()] == ["CREATE"]
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a", 10)]
    t.append(_df(spark, [(2, "b", 20)]))
    assert t.read().count() == 2


def test_txn_merge_inside_batch_advertises_key_range(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("txm", t)
    spark.createDataFrame([(2, "b", 99), (7, "c", 70)],
                          "k int, grp string, v int") \
        .createOrReplaceTempView("txm_updates")
    engine.sql("BEGIN; "
               "MERGE INTO txm AS t USING txm_updates AS u ON t.k = u.k "
               "WHEN MATCHED THEN UPDATE SET * "
               "WHEN NOT MATCHED THEN INSERT *; "
               "DELETE FROM txm WHERE k = 1; "
               "COMMIT")
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(2, "b", 99), (7, "c", 70)]
    hist = t.history()
    assert hist[-1]["op"] == "TXN" and hist[-1]["statements"] == 2
    # the merged key range is advertised for OTHER writers' OCC
    assert hist[-1]["keyRanges"][0]["column"] == "k"
    assert (hist[-1]["keyRanges"][0]["min"],
            hist[-1]["keyRanges"][0]["max"]) == (2, 7)


# -- id-based column mapping (VERDICT r6 "missing" #4) -----------------------

def test_id_mode_physical_names_and_rename_drop(spark, tdir):
    """column_mapping_mode='id': parquet files carry opaque col-<uuid>
    physical names from birth; rename stays metadata-only; drop retires
    the id, not the logical name."""
    import pyarrow.parquet as pq

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          column_mapping_mode="id")
    # physical layout: every data column is an opaque id
    seg = [f for f in t._snapshot_files()[0]][0]
    phys = pq.ParquetFile(seg).schema_arrow.names
    assert all(p.startswith("col-") for p in phys), phys
    # logical read is untouched
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "b", 20)]
    files_before = set(t._snapshot_files()[0])
    t.rename_column("v", "val")
    assert set(t._snapshot_files()[0]) == files_before  # metadata-only
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == \
        [(1, 10), (2, 20)]
    t.append(spark.createDataFrame([(3, "c", 30)],
                                   "k int, grp string, val int"))
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == \
        [(1, 10), (2, 20), (3, 30)]


def test_id_mode_reintroduce_dropped_logical_name(spark, tdir, tmp_path):
    """The payoff of id mode: DROP COLUMN v, then append a NEW column
    also called v — allowed (fresh physical id), and the OLD v values
    never resurface.  The same sequence on a name-mode table raises."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          column_mapping_mode="id")
    t.drop_column("v")
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a"), (2, "b")]
    # re-introduce logical 'v' with NEW values via schema evolution
    t.append(spark.createDataFrame([(3, "c", 999)],
                                   "k int, grp string, v int"))
    got = sorted((r["k"], r["grp"], r["v"]) for r in t.read().collect())
    # old rows' v is NULL (old physical id is retired), new row carries 999
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 999)]
    # name-based mode refuses the same sequence (documented contrast)
    t2 = TxLogTable.create(spark, str(tmp_path / "namemode"),
                           _df(spark, [(1, "a", 10)]))
    t2.drop_column("v")
    with pytest.raises(ValueError, match="re-introduce"):
        t2.append(spark.createDataFrame([(2, "b", 5)],
                                        "k int, grp string, v int"))


def test_id_mode_refuses_dependent_features_and_clone_carries_mode(
        spark, tdir, tmp_path):
    with pytest.raises(ValueError, match="does not combine"):
        TxLogTable.create(spark, str(tmp_path / "bad"),
                          _df(spark, [(1, "a", 10)]),
                          partition_by="grp", column_mapping_mode="id")
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          column_mapping_mode="id")
    c = t.clone_to(str(tmp_path / "idclone"))
    assert c._column_mapping_mode() == "id"
    c.drop_column("v")
    c.append(spark.createDataFrame([(2, "b", 77)],
                                   "k int, grp string, v int"))
    assert sorted((r["k"], r["v"]) for r in c.read().collect()) == \
        [(1, None), (2, 77)]
    # source untouched
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [(1, 10)]


def test_txn_commit_composes_with_cdf(spark, tdir):
    """A mixed TXN (APPEND + DELETE) on a CDF table serves BOTH the
    append's synthesized inserts and the delete's persisted change rows
    — per txnStep, not a flat scan (which would drop the inserts or
    mistake rewrite survivors for inserts)."""
    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.sources.txlog_stream import (
        TxLogChangesDataSource)

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          enable_cdf=True)
    engine.register_txlog("txc", t)
    t.begin_transaction()
    t.append(_df(spark, [(9, "z", 90)]))
    t.delete_where(F.col("k") == 1)
    v = t.commit_transaction()
    assert v == 1
    ch = t.read_changes(1, 1).select("k", "_change_type").collect()
    got = sorted((r["k"], r["_change_type"]) for r in ch)
    assert got == [(1, "delete"), (9, "insert")]
    # the streaming CDF reader agrees (same per-step walk, pyarrow side)
    ds = TxLogChangesDataSource({"path": t.path})
    reader = ds.simpleStreamReader(ds.schema())
    rows = sorted(reader.readBetweenOffsets({"version": 1}, {"version": 2}))
    assert [(r[0], r[3]) for r in rows] == [(1, "delete"), (9, "insert")]


def test_engine_ctas_txlog_and_txn_script_with_ctas(spark, tmp_path):
    """CREATE TABLE … USING TXLOG AS SELECT materializes an ACID table
    and registers it; inside a BEGIN/COMMIT script, DML AFTER the CTAS
    stages into ONE commit on the new table (CREATE + TXN = 2 versions,
    the shape VERDICT r6 item 6 asked to pin)."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    loc = str(tmp_path / "ctas_tbl")
    ack = engine.sql(
        f"CREATE TABLE ctas_t USING TXLOG LOCATION '{loc}' AS "
        "SELECT r_regionkey AS k, r_name AS name FROM region").collect()[0]
    assert ack["table_name"] == "ctas_t" and ack["version"] == 0
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM ctas_t").collect()[0]["n"] == 5
    t = engine.txlog_tables["ctas_t"]
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 4]

    # CTAS inside a transaction script: the two DML statements after it
    # land as ONE commit on the freshly created table
    loc2 = str(tmp_path / "ctas_tbl2")
    engine.sql(
        f"BEGIN; "
        f"CREATE TABLE ctas_u USING TXLOG LOCATION '{loc2}' AS "
        f"SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r "
        f"FROM nation; "
        f"UPDATE ctas_u SET r = r + 100 WHERE k < 5; "
        f"DELETE FROM ctas_u WHERE k >= 20; "
        f"COMMIT")
    u = engine.txlog_tables["ctas_u"]
    hist = u.history()
    assert [h["op"] for h in hist] == ["CREATE", "TXN"]
    assert hist[-1]["statements"] == 2
    rows = {r["k"]: r["r"] for r in u.read().collect()}
    assert max(rows) == 19 and rows[0] >= 100


def test_optimize_where_partition_scoped(spark, tdir):
    """OPTIMIZE … WHERE pcol = v compacts ONLY the matching partition's
    segments (Delta's incremental OPTIMIZE — at 100 TB you compact the
    partitions that accumulated small files, never the table)."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20)]), partition_by="grp")
    # pile small files into grp=a only
    for i in range(3):
        t.append(_df(spark, [(10 + i, "a", i)]))
    files_before, _ = t._snapshot_files()
    a_before = [f for f in files_before if "grp=a" in f]
    b_before = [f for f in files_before if "grp=b" in f]
    assert len(a_before) >= 4 and len(b_before) >= 1
    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    engine.register_txlog("popt", t)
    engine.sql("OPTIMIZE popt WHERE grp = 'a'")
    files_after, _ = t._snapshot_files()
    a_after = [f for f in files_after if "grp=a" in f]
    b_after = [f for f in files_after if "grp=b" in f]
    # grp=a compacted to fewer segments; grp=b untouched BY REFERENCE
    assert len(a_after) < len(a_before)
    assert set(b_after) == set(b_before)
    assert not (set(a_after) & set(a_before))
    got = sorted((r["k"], r["grp"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20),
                   (10, "a", 0), (11, "a", 1), (12, "a", 2)]
    hist = t.history()
    assert hist[-1]["op"] == "OPTIMIZE" and hist[-1]["where"] == {"grp": "a"}
    # non-partition column: loud refusal
    with pytest.raises(ValueError, match="partition columns only"):
        t.optimize_compact(where={"v": 1})


def test_txn_script_two_tables_one_commit_each(spark, tdir, tmp_path):
    """A BEGIN/COMMIT script touching TWO registered tables publishes
    exactly ONE commit per table (per-table logs: atomic within each
    table; the ack reports both)."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    ta = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    tb = TxLogTable.create(spark, str(tmp_path / "tb"),
                           _df(spark, [(7, "x", 70)]))
    engine.register_txlog("two_a", ta)
    engine.register_txlog("two_b", tb)
    ack = engine.sql(
        "BEGIN; "
        "UPDATE two_a SET v = v + 1 WHERE k = 1; "
        "DELETE FROM two_a WHERE k = 2; "
        "UPDATE two_b SET v = 0 WHERE k = 7; "
        "COMMIT").collect()
    got = sorted((r["table_name"], r["version"], r["statements"])
                 for r in ack)
    assert got == [("two_a", 1, 2), ("two_b", 1, 1)]
    assert [h["op"] for h in ta.history()] == ["CREATE", "TXN"]
    assert [h["op"] for h in tb.history()] == ["CREATE", "TXN"]
    assert sorted(tuple(r) for r in ta.read().collect()) == [(1, "a", 11)]
    assert sorted(tuple(r) for r in tb.read().collect()) == [(7, "x", 0)]


def test_engine_insert_into_and_unconditional_dml(spark, tdir):
    """INSERT INTO t SELECT/VALUES appends as an ACID commit (positional
    column mapping, arity-checked); UPDATE/DELETE without WHERE touch
    every row — completing the command-string DML surface.  All of it
    batches inside BEGIN/COMMIT."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("ins", t)
    engine.sql("INSERT INTO ins VALUES (2, 'b', 20), (3, 'c', 30)")
    engine.sql("INSERT INTO ins SELECT n_nationkey + 100, n_name, "
               "CAST(0 AS INT) FROM nation WHERE n_nationkey < 2")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 100, 101]
    with pytest.raises(ValueError, match="column"):
        engine.sql("INSERT INTO ins VALUES (9, 'x')")  # arity mismatch
    # unconditional UPDATE then DELETE (no WHERE)
    engine.sql("UPDATE ins SET v = 0")
    assert {r["v"] for r in t.read().collect()} == {0}
    # inside a transaction: INSERT + unconditional DELETE, one commit
    ack = engine.sql("BEGIN; "
                     "INSERT INTO ins VALUES (7, 'z', 70); "
                     "DELETE FROM ins; "
                     "COMMIT").collect()
    assert [(r["table_name"], r["statements"]) for r in ack] == [("ins", 2)]
    assert t.read().count() == 0
    assert t.history()[-1]["op"] == "TXN"


def test_txn_rollback_restores_temp_view(spark, tdir):
    """After a failed script, the temp view must show the COMMITTED
    snapshot — a mid-script ack repoints it at the staged one."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    engine.register_txlog("txv", t)
    with pytest.raises(Exception):
        engine.sql("BEGIN; "
                   "UPDATE txv SET v = 999 WHERE k = 1; "
                   "UPDATE txv SET nope = 1 WHERE k = 1; "
                   "COMMIT")
    got = engine.sql("SELECT v FROM txv").collect()
    assert [r["v"] for r in got] == [10], "staged value leaked to the view"


def test_engine_detail_fsck_restore_ts_and_table_changes(spark, tdir):
    """The rest of the Delta SQL surface: DESCRIBE DETAIL, FSCK REPAIR
    TABLE [DRY RUN], RESTORE … TIMESTAMP AS OF, and the
    table_changes('t', a[, b]) CDF table-valued function."""
    import glob as _glob

    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          enable_cdf=True)
    engine.register_txlog("dft", t)
    t.delete_where(F.col("k") == 1)                      # v1 (cdf)
    t.append(_df(spark, [(3, "c", 30)]))                 # v2

    d = engine.sql("DESCRIBE DETAIL dft").collect()[0]
    assert d["table_name"] == "dft" and d["version"] == 2
    assert d["num_files"] >= 2 and d["size_in_bytes"] > 0

    # table_changes over [1, 2]: the delete + the insert
    ch = engine.sql(
        "SELECT k, _change_type, _commit_version "
        "FROM table_changes('dft', 1, 2) ORDER BY _commit_version, k"
    ).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == \
        [(1, "delete"), (3, "insert")]
    # the quoted table name inside the call must NOT trip literal-skip
    ch2 = engine.sql(
        "SELECT COUNT(*) AS n FROM table_changes('dft', 1)").collect()
    assert ch2[0]["n"] == 2

    # RESTORE ... TIMESTAMP AS OF <ms of v0's commit>
    ts0 = t.history()[0]["ts"]
    engine.sql(f"RESTORE TABLE dft TO TIMESTAMP AS OF {ts0}")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]

    # FSCK: delete a live data file out-of-band; DRY RUN reports, the
    # real run commits removes and reads work again
    live, _ = t._snapshot_files()
    os.remove(sorted(live)[0])
    dry = engine.sql("FSCK REPAIR TABLE dft DRY RUN").collect()[0]
    assert dry["missing_files"] >= 1 and dry["dry_run"] is True
    fix = engine.sql("FSCK REPAIR TABLE dft").collect()[0]
    assert fix["missing_files"] >= 1 and fix["dry_run"] is False
    assert t.history()[-1]["op"] == "FSCK"
    t.read().count()  # no ghost-file failure
    assert engine.sql("FSCK REPAIR TABLE dft DRY RUN").collect()[0][
        "missing_files"] == 0


def test_source_vacuum_breaks_clone_fsck_recovers(spark, tdir, tmp_path):
    """Documented shallow-clone caveat (same as real Delta): a source
    OPTIMIZE + VACUUM collects segments a clone still references — the
    clone fails on ghost files, and FSCK REPAIR restores readability by
    de-listing them (lossy, by definition)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    c = t.clone_to(str(tmp_path / "vc"))
    t.optimize_compact()          # source de-lists the shared segments
    t.vacuum(retention_seconds=0)  # ...and collects them
    with pytest.raises(Exception):
        c.read().count()
    missing = c.repair(dry_run=True)
    assert missing, "ghost files must be detected"
    c.repair(dry_run=False)
    assert c.read().count() == 0  # lossy: the referenced data is gone
    assert c.history()[-1]["op"] == "FSCK"
    # the repaired clone is a working table again
    c.append(_df(spark, [(9, "z", 90)]))
    assert sorted(r["k"] for r in c.read().collect()) == [9]


def test_id_mode_merge_update_delete(spark, tdir):
    """Copy-on-write DML on an id-mode table: MERGE/UPDATE/DELETE read
    logical names, write physical ids, and round-trip exactly."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20),
                                      (3, "c", 30)]),
                          column_mapping_mode="id")
    t.merge_upsert(_df(spark, [(2, "b", 99), (7, "z", 70)]), "k")
    t.update_where({"v": F.col("v") + 1}, F.col("k") == 1)
    t.delete_where(F.col("k") == 3)
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 11), (2, "b", 99), (7, "z", 70)]
    # rename mid-life, then more DML under the new logical name
    t.rename_column("v", "val")
    t.update_where({"val": F.lit(0)}, F.col("k") == 7)
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == \
        [(1, 11), (2, 99), (7, 0)]


# -- ADVICE r7: CDF across RENAME COLUMN (batch) -----------------------------

def test_read_changes_across_rename(spark, tdir):
    """CDF sidecars store logical-AS-OF-WRITE column names while data
    segments store physical names; after RENAME COLUMN the batch change
    feed must serve every commit under the CURRENT logical schema —
    before the r8 fix the union silently widened the schema and NULLed
    the renamed column (ADVICE r7, high)."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          enable_cdf=True)
    t.update_where({"v": F.lit(99)}, F.col("k") == 1)       # v1: cdf 'v'
    t.rename_column("v", "val")                             # v2: metadata
    t.update_where({"val": F.lit(77)}, F.col("k") == 2)     # v3: cdf 'val'
    t.append(_df(spark, [(3, "c", 30)]).withColumnRenamed(
        "v", "val"))                                        # v4: physical 'v'
    ch = t.read_changes(0, 4)
    assert set(ch.columns) == {"k", "grp", "val", "_change_type",
                               "_commit_version"}, \
        "changes must serve ONE schema (current logical names)"
    got = sorted((r["k"], r["val"], r["_change_type"], r["_commit_version"])
                 for r in ch.collect())
    assert (1, 10, "update_preimage", 1) in got
    assert (1, 99, "update_postimage", 1) in got
    assert (2, 20, "update_preimage", 3) in got
    assert (2, 77, "update_postimage", 3) in got
    assert (3, 30, "insert", 4) in got
    assert all(v is not None for _, v, _ct, _cv in got), \
        "no silent NULLs in the renamed column"
    # double-rename chain: a cdf row written between two renames carries
    # the MIDDLE logical name; per-version mapping still resolves it
    t.rename_column("val", "value")                         # v5
    t.update_where({"value": F.lit(55)}, F.col("k") == 3)   # v6: cdf 'value'
    ch2 = t.read_changes(1, 6)
    assert set(ch2.columns) == {"k", "grp", "value", "_change_type",
                                "_commit_version"}
    vals = {(r["k"], r["_commit_version"], r["_change_type"]): r["value"]
            for r in ch2.collect()}
    assert vals[(2, 3, "update_postimage")] == 77   # written as 'val'
    assert vals[(3, 6, "update_postimage")] == 55   # written as 'value'
    assert vals[(1, 1, "update_postimage")] == 99   # written as 'v'


# -- ADVICE r7: unversioned blooms prove nothing -----------------------------

def test_unversioned_bloom_is_not_trusted(spark, tdir):
    """Blooms persisted by the pre-canonicalization code (no "v" marker)
    hash with a different function: a negative probe against one is
    near-certain on any real key and must NOT prune the file — old
    tables degrade to range-check-only instead of losing rows."""
    from distributed_database_for_sql_spark.sources.txlog import (
        _BLOOM_FORMAT_VERSION, _build_bloom, _file_may_match)

    bloom = _build_bloom([5, 17, 940], 3)
    assert bloom["v"] == _BLOOM_FORMAT_VERSION
    stats = {"minValues": {"k": 1}, "maxValues": {"k": 1000},
             "nullCount": {}, "numRecords": 3, "bloom": {"k": bloom}}
    # versioned bloom: decisive negative
    assert not _file_may_match(stats, "k", "=", 6)
    # strip the marker (simulating an old persisted bloom): the SAME
    # negative is no longer proof — the file must be kept
    legacy = {k: v for k, v in bloom.items() if k != "v"}
    stats_legacy = dict(stats, bloom={"k": legacy})
    assert _file_may_match(stats_legacy, "k", "=", 6), \
        "unversioned bloom negative must not prune"
    # a future format bump is equally untrusted by this reader
    stats_future = dict(stats, bloom={"k": dict(bloom, v=99)})
    assert _file_may_match(stats_future, "k", "=", 6)
    # range check still prunes out-of-range keys without the bloom
    assert not _file_may_match(stats_legacy, "k", "=", 5000)


# -- ADVICE r7: self-staged segments don't trip OCC --------------------------

def test_txn_self_staged_rewrite_commutes_with_concurrent_append(
        spark, tdir):
    """A transaction that stages a segment and then rewrites it (UPDATE
    adds Y, DELETE removes Y) must not report Y to the OCC 'gone' check:
    Y never reached the disk snapshot, so a commuting concurrent commit
    made its absence look like a rival's removal and raised a spurious
    conflict (ADVICE r7, low)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.begin_transaction()
    t.update_where({"v": F.col("v") + 1}, F.col("k") == 1)  # stages adds Y
    t.delete_where(F.col("k") == 2)                # rewrites Y, stages rm(Y)
    # an unrelated writer lands BETWEEN begin and commit
    rival = TxLogTable(spark, tdir)
    rival.append(_df(spark, [(9, "z", 90)]))
    v = t.commit_transaction()                     # must commute, not raise
    assert t.history()[-1]["op"] == "TXN" and v == 2
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 11), (9, 90)]

    # the check still catches a REAL conflict: rival removes a begin-
    # snapshot file the transaction also rewrote
    t2 = TxLogTable(spark, tdir)
    t2.begin_transaction()
    t2.update_where({"v": F.lit(0)}, F.col("k") == 9)
    rival2 = TxLogTable(spark, tdir)
    rival2.delete_where(F.col("k") == 9)
    with pytest.raises(RuntimeError, match="conflict"):
        t2.commit_transaction()


# -- ADVICE r7: CTAS must not destroy an existing table ----------------------

def test_ctas_refuses_existing_location_unless_or_replace(spark, tmp_path):
    """CREATE TABLE ... USING TXLOG LOCATION over an existing txlog
    table raises (standard CTAS semantics — a mistyped LOCATION must not
    rmtree someone's data); CREATE OR REPLACE is the explicit
    destructive variant."""
    import os

    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    loc = str(tmp_path / "precious")
    TxLogTable.create(spark, loc, _df(spark, [(1, "a", 10)]))
    with pytest.raises(FileExistsError):
        engine.sql(f"CREATE TABLE newt USING TXLOG LOCATION '{loc}' AS "
                   "SELECT 1 AS x")
    # the existing table is untouched
    assert TxLogTable(spark, loc).read().count() == 1
    engine.sql(f"CREATE OR REPLACE TABLE newt USING TXLOG LOCATION "
               f"'{loc}' AS SELECT 1 AS x")
    assert [r["x"] for r in spark.sql("SELECT * FROM newt").collect()] == [1]


# -- ADVICE r7: cross-table partial commit is loud ---------------------------

def test_txn_script_partial_commit_names_committed_and_rolled_back(
        spark, tmp_path):
    """A BEGIN/COMMIT script touching several txlog tables is atomic per
    table, not across tables (per-table logs — Delta's model).  When a
    publish fails mid-loop the error must name which tables committed
    and which rolled back instead of failing silently-partially."""
    import os

    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    ta = TxLogTable.create(spark, str(tmp_path / "ta"),
                           _df(spark, [(1, "a", 10)]))
    tb = TxLogTable.create(spark, str(tmp_path / "tb"),
                           _df(spark, [(1, "a", 10)]))
    engine.register_txlog("tbl_a", ta)
    engine.register_txlog("tbl_b", tb)

    real = tb.commit_transaction

    def boom():
        raise RuntimeError("injected publish failure")

    tb.commit_transaction = boom
    try:
        with pytest.raises(RuntimeError) as ei:
            engine.sql("BEGIN; "
                       "UPDATE tbl_a SET v = v + 1; "
                       "UPDATE tbl_b SET v = v + 5; "
                       "COMMIT")
    finally:
        tb.commit_transaction = real
    msg = str(ei.value)
    assert "tbl_a" in msg and "tbl_b" in msg
    assert "committed" in msg and "rolled back" in msg
    # table A committed (per-table atomicity), table B rolled back
    assert [r["v"] for r in ta.read().collect()] == [11]
    assert [r["v"] for r in tb.read().collect()] == [10]
    # and B's staged txn was discarded — it accepts new work
    tb.append(_df(spark, [(2, "b", 20)]))
    assert tb.read().count() == 2


# -- r8: vacated physical names cannot be reused (name mode) -----------------

def test_vacated_physical_name_cannot_be_reused(spark, tdir):
    """After RENAME v->val the physical parquet name 'v' is still in use
    by 'val': re-introducing a LOGICAL column named 'v' (via schema
    evolution or a second rename) would make two logical columns share
    one physical name — reads of 'val' would silently serve the new
    column's values from new segments.  Name mode must refuse; id mode
    is immune (fresh physical ids)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.rename_column("v", "val")
    # (a) schema evolution re-introducing the vacated physical name
    with pytest.raises(ValueError, match="(?i)physical"):
        t.append(spark.createDataFrame(
            [(2, "b", 20, 5)], "k int, grp string, val int, v int"))
    # (b) a second rename INTO the vacated physical name
    with pytest.raises(ValueError, match="(?i)physical"):
        t.rename_column("grp", "v")
    # a non-clashing evolution still works
    t.append(spark.createDataFrame(
        [(2, "b", 20, 5)], "k int, grp string, val int, extra int"))
    got = sorted((r["k"], r["val"], r["extra"])
                 for r in t.read().collect())
    assert got == [(1, 10, None), (2, 20, 5)]
    # id mode: the same shape is allowed and round-trips exactly
    t2 = TxLogTable.create(spark, tdir + "_id",
                           _df(spark, [(1, "a", 10)]),
                           column_mapping_mode="id")
    t2.rename_column("v", "val")
    t2.append(spark.createDataFrame(
        [(2, "b", 20, 5)], "k int, grp string, val int, v int"))
    got2 = sorted((r["k"], r["val"], r["v"]) for r in t2.read().collect())
    assert got2 == [(1, 10, None), (2, 20, 5)]


# -- r8: REORG TABLE ... APPLY (PURGE) ---------------------------------------

def test_reorg_purge_materializes_dvs_only_for_dvd_files(spark, tdir):
    """PURGE rewrites exactly the segments carrying deletion vectors
    (materializing the tombstones) and leaves DV-free segments untouched
    by reference; afterwards no DVs are outstanding and the logical
    content is unchanged.  A second PURGE is a version-free no-op."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.append(_df(spark, [(3, "c", 30), (4, "d", 40)]))
    t.delete_where(F.col("k") == 3, use_dv=True)          # DV on segment 2
    active_before, _, dvs_before = t._snapshot_full()
    assert any(dvs_before.get(p) for p in active_before), "DV expected"
    dv_free = [p for p in active_before if not dvs_before.get(p)]
    v = t.reorg_purge()
    assert t.history()[-1]["op"] == "REORG"
    active_after, _, dvs_after = t._snapshot_full()
    assert not any(dvs_after.get(p) for p in active_after), \
        "PURGE must retire every outstanding DV"
    for p in dv_free:
        assert p in active_after, "DV-free segment must carry by reference"
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 10), (2, 20), (4, 40)]
    assert t.reorg_purge() == v, "no DVs -> no-op, no new version"
    # the REORG commit is transparent to the append-only table stream
    # and contributes nothing to the change feed
    from distributed_database_for_sql_spark.sources.txlog_stream import (
        TxLogTableDataSource)
    ds = TxLogTableDataSource({"path": t.path, "skipchangecommits": "true"})
    reader = ds.simpleStreamReader(ds.schema())
    rows = list(reader.readBetweenOffsets({"version": v}, {"version": v + 1}))
    assert rows == [], "REORG must not re-emit rows into the table stream"


def test_reorg_purge_via_engine_sql(spark, tmp_path):
    """REORG TABLE t APPLY (PURGE) routes through Engine.sql."""
    import os

    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    t = TxLogTable.create(spark, str(tmp_path / "rg"),
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("rg_t", t)
    t.delete_where(F.col("k") == 1, use_dv=True)
    ack = engine.sql("REORG TABLE rg_t APPLY (PURGE)").collect()
    assert ack[0]["table_name"] == "rg_t"
    assert t.history()[-1]["op"] == "REORG"
    assert [r["k"] for r in spark.sql("SELECT * FROM rg_t").collect()] == [2]


# -- r8: ALTER TABLE ADD COLUMN (metadata-only) ------------------------------

def test_add_column_metadata_only(spark, tdir):
    """ADD COLUMN touches no file: existing rows read typed NULL, a
    later write materializes values, time travel to before the ADD
    lacks the column, and the commit is transparent to streams and the
    change feed."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          enable_cdf=True)
    files_before, _ = t._snapshot_files()
    v = t.add_column("score", "double")
    assert t.history()[-1]["op"] == "ADD COLUMN"
    assert t._snapshot_files()[0] == files_before, "no file rewritten"
    got = t.read().collect()
    assert got[0]["score"] is None and "score" in t.read().columns
    assert t.read().schema["score"].dataType.typeName() == "double"
    # time travel: the column did not exist at v0
    assert "score" not in t.read(version=v - 1).columns
    # a later append materializes values; old rows stay NULL
    t.append(spark.createDataFrame([(2, "b", 20, 0.5)],
                                   "k int, grp string, v int, score double"))
    assert sorted((r["k"], r["score"]) for r in t.read().collect()) == \
        [(1, None), (2, 0.5)]
    # UPDATE can now target it
    t.update_where({"score": F.lit(1.0)}, F.col("k") == 1)
    assert sorted((r["k"], r["score"]) for r in t.read().collect()) == \
        [(1, 1.0), (2, 0.5)]
    # the ADD COLUMN commit contributes nothing to the change feed
    ct = t.read_changes(v, v)
    assert ct.count() == 0
    # name mode refuses retired / rename-vacated names
    t.rename_column("v", "val")
    with pytest.raises(ValueError, match="(?i)physical"):
        t.add_column("v", "int")
    # id mode allows the same shape with a fresh physical id
    t2 = TxLogTable.create(spark, tdir + "_id",
                           _df(spark, [(1, "a", 10)]),
                           column_mapping_mode="id")
    t2.rename_column("v", "val")
    t2.add_column("v", "int")
    t2.append(spark.createDataFrame(
        [(2, "b", 20, 7)], "k int, grp string, val int, v int"))
    assert sorted((r["k"], r["val"], r["v"]) for r in t2.read().collect()) \
        == [(1, 10, None), (2, 20, 7)]


def test_add_column_via_engine_sql(spark, tmp_path):
    import os

    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    t = TxLogTable.create(spark, str(tmp_path / "ac"),
                          _df(spark, [(1, "a", 10)]))
    engine.register_txlog("ac_t", t)
    engine.sql("ALTER TABLE ac_t ADD COLUMN note string")
    assert "note" in spark.sql("SELECT * FROM ac_t").columns
    engine.sql("ALTER TABLE ac_t ADD COLUMNS (weight decimal(10,2))")
    assert t.read().schema["weight"].dataType.simpleString() \
        == "decimal(10,2)"


# -- r8: COPY INTO (idempotent bulk file ingest) -----------------------------

def test_copy_into_idempotent_per_file(spark, tdir, tmp_path):
    """COPY INTO loads each source file AT MOST ONCE EVER: a re-run is a
    version-free no-op, and after new files land in the directory only
    THOSE are ingested.  The loaded-file ledger is transactional with
    the data (txn actions in the same commit)."""
    land = str(tmp_path / "landing")
    spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                          "k int, grp string, v int") \
        .repartition(2).write.parquet(land)
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, grp string, v int"))
    v1, n1 = t.copy_into(land)
    assert n1 == 2 and t.history()[-1]["op"] == "COPY INTO"
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    # re-run: nothing new, no new version
    v2, n2 = t.copy_into(land)
    assert (v2, n2) == (v1, 0)
    # a new file lands; only it is ingested
    spark.createDataFrame([(3, "c", 30)], "k int, grp string, v int") \
        .coalesce(1).write.mode("append").parquet(land)
    v3, n3 = t.copy_into(land)
    assert n3 == 1 and v3 == v1 + 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    # column matching is by name with casts; missing columns raise
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(9,)], "k int").write.parquet(bad)
    with pytest.raises(ValueError, match="lacks table column"):
        t.copy_into(bad)
    # the ledger survives checkpointing (txn state is checkpoint-carried)
    fresh = TxLogTable(spark, tdir)
    _, n4 = fresh.copy_into(land)
    assert n4 == 0


def test_copy_into_via_engine_sql_and_streams(spark, tdir, tmp_path):
    """SQL route + the COPY INTO commit streams as plain inserts."""
    import os

    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.sources.txlog_stream import (
        TxLogTableDataSource)

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    land = str(tmp_path / "landing")
    spark.createDataFrame([(1, "a", 10)], "k int, grp string, v int") \
        .coalesce(1).write.parquet(land)
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, grp string, v int"))
    engine.register_txlog("cp_t", t)
    ack = engine.sql(
        f"COPY INTO cp_t FROM '{land}' FILEFORMAT = PARQUET").collect()
    assert ack[0]["files_loaded"] == 1
    assert [r["k"] for r in spark.sql("SELECT * FROM cp_t").collect()] == [1]
    ack2 = engine.sql(
        f"COPY INTO cp_t FROM '{land}' FILEFORMAT = PARQUET").collect()
    assert ack2[0]["files_loaded"] == 0
    # table stream serves the copied rows as appends
    ds = TxLogTableDataSource({"path": t.path})
    reader = ds.simpleStreamReader(ds.schema())
    rows = list(reader.readBetweenOffsets({"version": 0}, {"version": 2}))
    assert [(r[0], r[2]) for r in rows] == [(1, 10)]


# -- r8: timestampAsOf resolution is O(log N), not O(N) ----------------------

def test_version_at_timestamp_binary_search_read_bound(spark, tdir):
    """In-commit timestamps are strictly monotonic, so timestampAsOf
    resolves by binary search: on a 12-commit log the resolution must
    read O(log N) commit files, not replay all of them — the difference
    between ~17 reads and 100k on a streaming table."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    for i in range(11):
        t.append(_df(spark, [(i + 2, "b", i)]))
    stamps = [t._commit_ts(v) for v in range(12)]
    assert stamps == sorted(set(stamps)), "strictly monotonic"
    fresh = TxLogTable(spark, tdir)
    reads = []
    orig = fresh._read_commit

    def counting(v):
        reads.append(v)
        return orig(v)

    fresh._read_commit = counting
    # exact hit, between-commit, and after-last resolutions
    assert fresh.version_at_timestamp(stamps[7]) == 7
    assert fresh.version_at_timestamp(stamps[7] - 1) == 6
    assert fresh.version_at_timestamp(stamps[-1] + 10_000) == 11
    assert len(reads) <= 3 * (2 + 5), \
        f"resolution replayed the log: {len(reads)} reads"
    with pytest.raises(ValueError, match="no commit at or before"):
        fresh.version_at_timestamp(stamps[0] - 1)


# -- r8: VACUUM DRY RUN ------------------------------------------------------

def test_vacuum_dry_run_lists_without_deleting(spark, tdir):
    """VACUUM ... DRY RUN returns exactly the would-be-deleted set and
    touches nothing; the real VACUUM then deletes that same set."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.update_where({"v": F.lit(0)}, F.col("k") == 1)  # de-lists v0 segs
    would = t.vacuum(retention_seconds=0, dry_run=True)
    assert would, "unreferenced segments expected"
    assert all(os.path.exists(os.path.join(t.path, p)) for p in would), \
        "DRY RUN must not delete"
    assert t.read(version=0).count() == 2, "time travel still works"
    did = t.vacuum(retention_seconds=0)
    assert sorted(did) == sorted(would), "dry-run list == real deletion"
    assert not any(os.path.exists(os.path.join(t.path, p)) for p in did)


def test_vacuum_dry_run_via_engine_sql(spark, tmp_path):
    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    t = TxLogTable.create(spark, str(tmp_path / "vd"),
                          _df(spark, [(1, "a", 10)]))
    engine.register_txlog("vd_t", t)
    t.delete_where(F.col("k") == 1)
    ack = engine.sql("VACUUM vd_t RETAIN 0 HOURS DRY RUN").collect()[0]
    assert ack["dry_run"] is True and ack["files_removed"] >= 1
    assert t.read(version=0).count() == 1  # nothing deleted
    ack2 = engine.sql("VACUUM vd_t RETAIN 0 HOURS").collect()[0]
    assert ack2["dry_run"] is False
    assert ack2["files_removed"] == ack["files_removed"]


# -- r8: merge-on-read UPDATE (deletion-vector strategy) ---------------------

def test_update_where_dv_rewrites_nothing(spark, tdir):
    """DV UPDATE tombstones the matched positions and appends the
    post-images in ONE commit — no existing segment is rewritten; reads,
    metadata COUNT(*), CDF, time travel, and a later REORG PURGE all
    compose."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20),
                                      (3, "c", 30)]),
                          enable_cdf=True)
    files_before = set(t._snapshot_files()[0])
    v = t.update_where({"v": F.col("v") + 1}, F.col("k") <= 2, use_dv=True)
    hist = t.history()[-1]
    assert hist["op"] == "UPDATE" and hist.get("mode") == "dv"
    files_after = set(t._snapshot_files()[0])
    assert files_before <= files_after, "no original segment de-listed"
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 11), (2, 21), (3, 30)]
    # row count is stable and still metadata-only
    n, meta_only = t.count_rows()
    assert (n, meta_only) == (3, True)
    # CDF carries pre/post images
    ch = t.read_changes(v, v)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, 10, "update_preimage"), (1, 11, "update_postimage"),
                   (2, 20, "update_preimage"), (2, 21, "update_postimage")]
    # time travel to before the update sees original values
    assert sorted((r["k"], r["v"]) for r in t.read(version=0).collect()) == \
        [(1, 10), (2, 20), (3, 30)]
    # chained DV update on top of DV state composes (positions are
    # computed against the DV-applied snapshot)
    t.update_where({"v": F.lit(0)}, F.col("k") == 1, use_dv=True)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 0), (2, 21), (3, 30)]
    # PURGE materializes everything
    t.reorg_purge()
    _, _, dvs = t._snapshot_full()
    assert not any(dvs.values())
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 0), (2, 21), (3, 30)]
    # guards shared with copy-on-write
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where({"nope": F.lit(1)}, F.lit(True), use_dv=True)


# -- r8: IDENTITY columns ----------------------------------------------------

def test_identity_columns_dense_monotonic(spark, tdir):
    """GENERATED ALWAYS AS IDENTITY: ids are engine-assigned, dense,
    and continue from the commit-carried high-water mark across appends,
    COPY INTO, checkpoints, and fresh handles; explicit values and
    UPDATE SET of the id column are refused; DELETE never reuses ids."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10), ("b", 20), ("c", 30)],
                              "grp string, v int"),
        identity_columns={"id": {"start": 100, "step": 2}})
    got = sorted((r["id"], r["grp"]) for r in t.read().collect())
    assert [i for i, _ in got] == [100, 102, 104], f"dense from start: {got}"
    # append continues from the high-water mark (fresh handle: the mark
    # rides the log/checkpoint, not the instance)
    fresh = TxLogTable(spark, tdir)
    fresh.append(spark.createDataFrame([("d", 40), ("e", 50)],
                                       "grp string, v int"))
    ids = sorted(r["id"] for r in fresh.read().collect())
    assert ids == [100, 102, 104, 106, 108]
    # delete burns ids; the next append does NOT reuse them
    fresh.delete_where(F.col("id") >= 106)
    fresh.append(spark.createDataFrame([("f", 60)], "grp string, v int"))
    ids2 = sorted(r["id"] for r in fresh.read().collect())
    assert ids2 == [100, 102, 104, 110]
    # explicit values refused (GENERATED ALWAYS)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        fresh.append(spark.createDataFrame(
            [(999, "x", 1)], "id long, grp string, v int"))
    with pytest.raises(ValueError, match="identity"):
        fresh.update_where({"id": F.lit(1)}, F.lit(True))
    with pytest.raises(ValueError, match="IDENTITY"):
        fresh.merge_upsert(spark.createDataFrame(
            [("a", 1)], "grp string, v int"), "grp")
    # non-identity updates still work and never disturb ids
    fresh.update_where({"v": F.col("v") + 1}, F.col("grp") == "a")
    assert sorted(r["id"] for r in fresh.read().collect()) == ids2


def test_identity_columns_multi_partition_unique(spark, tdir):
    """Dense assignment across a multi-partition write: ids are unique
    and exactly 1..n regardless of partitioning."""
    df = (spark.range(0, 500).selectExpr("CAST(id AS INT) AS v",
                                         "CAST(id % 7 AS STRING) AS grp")
          .drop("id").repartition(8))
    t = TxLogTable.create(spark, tdir, df.select("grp", "v"),
                          identity_columns={"rid": 1})
    rows = t.read().select("rid").collect()
    ids = sorted(r["rid"] for r in rows)
    assert ids == list(range(1, 501)), "dense 1..n, no dupes, no gaps"
    # COPY INTO also assigns (identity column not required in source)
    import tempfile
    land = tempfile.mkdtemp(prefix="ident_land_")
    spark.createDataFrame([("z", 1)], "grp string, v int") \
        .coalesce(1).write.mode("overwrite").parquet(land)
    t.copy_into(land)
    assert max(r["rid"] for r in t.read().collect()) == 501


def test_identity_by_default(spark, tdir):
    """GENERATED BY DEFAULT AS IDENTITY: explicit values are accepted,
    only absent columns / NULL slots are engine-assigned, and the
    high-water mark max-merges explicit values so later engine
    assignments never collide (no SYNC IDENTITY step)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10), ("b", 20)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "step": 1, "always": False}})
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]
    # explicit values (incl. a NULL slot) are accepted: NULLs fill past
    # the high-water mark, explicit values keep
    t.append(spark.createDataFrame(
        [(100, "c", 30), (None, "d", 40)], "id long, grp string, v int"))
    got = sorted((r["grp"], r["id"]) for r in t.read().collect())
    assert got == [("a", 1), ("b", 2), ("c", 100), ("d", 3)]
    # high-water max-merged with the explicit 100: next assign is 101
    t.append(spark.createDataFrame([("e", 50)], "grp string, v int"))
    assert max(r["id"] for r in t.read().collect()) == 101
    # identity values still never update
    with pytest.raises(ValueError, match="identity"):
        t.update_where({"id": F.lit(1)}, F.lit(True))


def test_identity_by_default_merge_and_cdc(spark, tdir):
    """BY DEFAULT identity composes with MERGE and APPLY CHANGES: the
    source carries the ids (required — a missing column refuses), NULL
    slots are engine-assigned, GENERATED ALWAYS still refuses."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "always": False}})
    # whole-row upsert: update keeps its id, insert with NULL id assigns
    t.merge_upsert(spark.createDataFrame(
        [(1, "a", 11), (None, "b", 20)], "id long, grp string, v int"),
        "grp")
    got = sorted((r["grp"], r["id"], r["v"]) for r in t.read().collect())
    assert got == [("a", 1, 11), ("b", 2, 20)]
    with pytest.raises(ValueError, match="must carry"):
        t.merge_upsert(spark.createDataFrame(
            [("c", 30)], "grp string, v int"), "grp")
    # CDC fold on the BY DEFAULT table
    t.apply_changes(spark.createDataFrame(
        [(None, "c", 30, 1, "insert"), (1, "a", 12, 1, "update_postimage")],
        "id long, grp string, v int, seq int, _change_type string"),
        key="grp", sequence_by="seq")
    got = sorted((r["grp"], r["id"], r["v"]) for r in t.read().collect())
    assert got == [("a", 1, 12), ("b", 2, 20), ("c", 3, 30)]
    # full-clause MERGE now composes with BY DEFAULT identity (r9):
    # the insert arm's NULL slot is engine-assigned past the high water
    t.merge_full(spark.createDataFrame(
        [(None, "d", 4)], "id long, grp string, v int"), "grp",
        when_not_matched=[{"action": "insert", "values": "*"}])
    got = sorted((r["grp"], r["id"], r["v"]) for r in t.read().collect())
    assert got == [("a", 1, 12), ("b", 2, 20), ("c", 3, 30), ("d", 4, 4)]


# -- r8: row tracking ---------------------------------------------------------

def test_row_tracking_stable_ids(spark, tdir):
    """Row tracking (Delta baseRowId): every row gets a stable _row_id =
    file baseRowId + physical position; ids are unique, appends continue
    past the high-water mark, OPTIMIZE and REORG PURGE preserve them
    (materialized __rid), and DV deletes keep survivors' ids."""
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
        .repartition(2, "k"),
        row_tracking=True)
    ids0 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert sorted(ids0.values()) == [1, 2, 3], f"dense from 1: {ids0}"
    # plain read never exposes the machinery
    assert "_row_id" not in t.read().columns
    assert "__rid" not in t.read().columns
    # append continues past the high-water mark
    t.append(_df(spark, [(4, "d", 40), (5, "e", 50)]))
    ids1 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert {ids1[k] for k in (4, 5)} == {4, 5}
    assert all(ids1[k] == ids0[k] for k in ids0), "old rows untouched"
    # OPTIMIZE preserves every id (materialized through the rewrite)
    t.optimize_compact(target_segments=1)
    ids2 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert ids2 == ids1, f"OPTIMIZE must preserve row ids: {ids2} != {ids1}"
    # DV delete: survivors keep their ids (positions are physical)
    t.delete_where(F.col("k") == 2, use_dv=True)
    ids3 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert ids3 == {k: v for k, v in ids2.items() if k != 2}
    # REORG PURGE materializes the DV and still preserves ids
    t.reorg_purge()
    ids4 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert ids4 == ids3, "REORG PURGE must preserve row ids"
    # a second append after the rewrites allocates fresh, non-colliding ids
    t.append(_df(spark, [(6, "f", 60)]))
    ids5 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert len(set(ids5.values())) == len(ids5), f"no collisions: {ids5}"
    assert ids5[6] > max(ids2.values())


def test_row_tracking_refusal_and_checkpoint(spark, tdir):
    """read_with_row_ids refuses on untracked tables; the high-water mark
    and per-file baseRowIds survive checkpoints and fresh handles."""
    t0 = TxLogTable.create(spark, tdir + "_plain",
                           _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="row tracking"):
        t0.read_with_row_ids()
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          row_tracking=True)
    t.checkpoint_interval = 2
    for i in range(2, 6):
        t.append(_df(spark, [(i, "x", i * 10)]))
    fresh = TxLogTable(spark, tdir)
    ids = sorted(r["_row_id"] for r in fresh.read_with_row_ids().collect())
    assert ids == [1, 2, 3, 4, 5]
    fresh.append(_df(spark, [(9, "z", 90)]))
    assert max(r["_row_id"]
               for r in fresh.read_with_row_ids().collect()) == 6


def test_row_tracking_preserved_through_dml(spark, tdir):
    """Row ids survive every operation that keeps the logical row alive:
    copy-on-write UPDATE (updated AND carried rows), CoW DELETE
    survivors, DV UPDATE post-images, MERGE updates, APPLY CHANGES
    upserts, and full-clause MERGE arms; only genuinely new rows get
    fresh ids."""
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30),
                    (4, "d", 40)]).repartition(2, "k"),
        row_tracking=True)
    ids = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}

    def current():
        return {r["k"]: (r["_row_id"], r["v"])
                for r in t.read_with_row_ids().collect()}

    # CoW UPDATE: the updated row keeps its id, carried rows untouched
    t.update_where({"v": F.col("v") + 1}, F.col("k") == 1)
    got = current()
    assert got[1] == (ids[1], 11) and got[2][0] == ids[2]
    # DV UPDATE: post-image keeps the tombstoned row's id
    t.update_where({"v": F.col("v") + 1}, F.col("k") == 2, use_dv=True)
    got = current()
    assert got[2] == (ids[2], 21)
    # CoW DELETE: survivors keep ids
    t.delete_where(F.col("k") == 3)
    got = current()
    assert 3 not in got and got[4][0] == ids[4]
    # MERGE: updated row keeps its id, inserted key gets a fresh one
    t.merge_upsert(_df(spark, [(4, "d", 44), (5, "e", 50)]), "k")
    got = current()
    assert got[4] == (ids[4], 44)
    assert got[5][0] not in set(ids.values()), "insert id is fresh"
    # APPLY CHANGES: upsert of an existing key keeps its id
    t.apply_changes(spark.createDataFrame(
        [(4, "d", 45, 1, "update_postimage")],
        "k int, grp string, v int, seq int, _change_type string"),
        key="k", sequence_by="seq")
    got = current()
    assert got[4] == (ids[4], 45)
    # full-clause MERGE: conditional update arm keeps the id
    t.merge_full(_df(spark, [(4, "d", 46)]), "k",
                 when_matched=[{"action": "update", "set": "*"}])
    got = current()
    assert got[4] == (ids[4], 46)
    # all ids still unique
    assert len({i for i, _ in got.values()}) == len(got)


def test_enable_row_tracking_on_existing_table(spark, tdir):
    """Enabling row tracking on an existing table backfills baseRowIds
    with ONE metadata commit (zero data moved): existing rows get ids,
    DVs keep applying, streams/CDF treat the commit as layout-only, and
    the SQL surface is Delta's delta.enableRowTracking property."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20),
                                      (3, "c", 30)]).repartition(2, "k"),
                          enable_cdf=True)
    t.append(_df(spark, [(4, "d", 40)]))
    t.delete_where(F.col("k") == 2, use_dv=True)
    files_before = sorted(t._snapshot()[0])
    v = t.enable_row_tracking()
    assert sorted(t._snapshot()[0]) == files_before, "zero files moved"
    ids = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert sorted(ids) == [1, 3, 4], "DV still applies after backfill"
    # backfill stamps PHYSICAL rows: the DV-tombstoned row burns one id,
    # survivors are unique within the 1..4 range
    assert len(set(ids.values())) == 3
    assert set(ids.values()) <= {1, 2, 3, 4}
    assert t.enable_row_tracking() == v, "idempotent"
    # the backfill commit is CDF/stream transparent (no synthetic inserts)
    ch = t.read_changes(v, v)
    assert ch.count() == 0
    # appends continue past the backfilled high-water mark (4 physical
    # rows stamped, so the next id is 5)
    t.append(_df(spark, [(5, "e", 50)]))
    ids2 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert ids2[5] == 5 and all(ids2[k] == ids[k] for k in ids)
    # SQL surface: Delta's property name routes to the backfill
    t2 = TxLogTable.create(spark, tdir + "_sql",
                           _df(spark, [(7, "x", 70)]))
    eng = Engine(spark, tdir + "_data")
    eng.register_txlog("rt_sql", t2)
    eng.sql("ALTER TABLE rt_sql SET TBLPROPERTIES "
            "('delta.enableRowTracking' = 'true')")
    assert [r["_row_id"] for r in t2.read_with_row_ids().collect()] == [1]


def test_drop_feature_downgrades_protocol(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.delete_where(F.col("k") == 1, use_dv=True)
    # live DVs fence the drop
    with pytest.raises(ValueError, match="live DVs"):
        t.drop_feature("deletionVectors")
    t.reorg_purge()
    v = t.drop_feature("deletionVectors")
    proto = t.protocol()
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    assert t.drop_feature("deletionVectors") == v, "idempotent"
    # per-version fencing: time travel BEFORE the drop still shows the
    # feature protocol
    assert "deletionVectors" in t.protocol(1).get("readerFeatures", [])
    # a later DV write simply re-adds the feature
    t.delete_where(F.col("k") == 2, use_dv=True)
    assert "deletionVectors" in t.protocol().get("readerFeatures", [])
    with pytest.raises(ValueError, match="cannot be dropped"):
        t.drop_feature("columnMapping")


def test_drop_feature_row_tracking_stops_stamping(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.enable_row_tracking()
    assert t._row_tracking_enabled()
    t.drop_feature("rowTracking")
    assert not t._row_tracking_enabled()
    assert "rowTracking" not in t.protocol().get("writerFeatures", [])
    t.append(_df(spark, [(2, "b", 20)]))
    assert t.read().count() == 2


def test_drop_feature_sql_route(spark, tdir):
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                          "/root/testdata/sf0.001"))
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10), (2, "b", 20)]))
    engine.register_txlog("dft", t)
    t.delete_where(F.col("k") == 1, use_dv=True)
    t.reorg_purge()
    engine.sql("ALTER TABLE dft DROP FEATURE deletionVectors")
    assert t.protocol() == {"minReaderVersion": 1, "minWriterVersion": 2}


def test_table_features_model(spark, tdir):
    """Delta 3.x table features: protocol actions carry explicit
    readerFeatures/writerFeatures sets; an unknown WRITER feature fences
    only commits (reads stay legal — the point of the split), an unknown
    READER feature fences reads too; the DV bump lists deletionVectors
    and MERGES with already-listed features."""
    import json as _json

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    v = t.add_feature("rowTracking")
    proto = t.protocol()
    assert proto["minWriterVersion"] == 7
    assert proto["writerFeatures"] == ["rowTracking"]
    assert "readerFeatures" not in proto
    assert proto["minReaderVersion"] == 1, "writer-only: readers stay free"
    assert t.add_feature("rowTracking") == v, "idempotent"
    # DV bump merges, never overwrites
    t.delete_where(F.col("k") == 1, use_dv=True)
    proto = t.protocol()
    assert proto["readerFeatures"] == ["deletionVectors"]
    assert proto["writerFeatures"] == ["deletionVectors", "rowTracking"]
    assert "deletionVectors" in t.detail()["tableFeatures"]
    # refusals
    with pytest.raises(ValueError, match="unknown table feature"):
        t.add_feature("futureMagic")
    with pytest.raises(ValueError, match="not a reader feature"):
        t.add_feature("identityColumns", reader=True)

    # inject a protocol listing a feature this engine does not know
    def raw_commit(table, actions):
        ver = table.latest_version() + 1
        with open(os.path.join(table.log_dir, f"{ver:08d}.json"),
                  "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    t2 = TxLogTable.create(spark, tdir + "_w",
                           _df(spark, [(1, "a", 10)]))
    raw_commit(t2, [
        {"commit": {"op": "ADD FEATURE", "ts": 10 ** 15}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["futureWriterMagic"]}}])
    assert t2.read().count() == 1, "unknown WRITER feature: reads legal"
    with pytest.raises(RuntimeError, match="writer feature"):
        t2.append(_df(spark, [(2, "b", 20)]))
    t3 = TxLogTable.create(spark, tdir + "_r",
                           _df(spark, [(1, "a", 10)]))
    raw_commit(t3, [
        {"commit": {"op": "ADD FEATURE", "ts": 10 ** 15}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["futureReaderMagic"],
                      "writerFeatures": ["futureReaderMagic"]}}])
    with pytest.raises(RuntimeError, match="reader feature"):
        t3.read().collect()
    # time travel to before the feature still reads
    assert t3.read(version=0).count() == 1


def test_table_features_sql_route(spark, tdir):
    """Delta's 'delta.feature.<name>' = 'supported' TBLPROPERTIES shape
    routes to add_feature through Engine.sql."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    eng = Engine(spark, tdir + "_data")
    eng.register_txlog("ft", t)
    eng.sql("ALTER TABLE ft SET TBLPROPERTIES "
            "('delta.feature.clustering' = 'supported')")
    assert t.protocol()["writerFeatures"] == ["clustering"]
    with pytest.raises(ValueError, match="supported"):
        eng.sql("ALTER TABLE ft SET TBLPROPERTIES "
                "('delta.feature.clustering' = 'enabled')")


def test_row_tracking_clone_and_scd2_composition(spark, tdir):
    """Composition pins: SHALLOW CLONE of a tracked table serves the
    SOURCE's row ids zero-copy (baseRowIds ride the carried stats, the
    materialized __rid column rides the foreign segments); SCD2 chain
    closures keep their ids while new history rows get fresh ones."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          row_tracking=True)
    t.optimize_compact(target_segments=1)  # materialized __rid segments
    ids = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    c = t.clone_to(tdir + "_clone")
    got = {r["k"]: r["_row_id"] for r in c.read_with_row_ids().collect()}
    assert got == ids, "clone serves the source's row ids zero-copy"

    # appends to the clone continue allocation PAST the carried
    # high-water mark — never colliding with the carried ids
    c.append(_df(spark, [(9, "z", 90)]))
    got2 = {r["k"]: r["_row_id"] for r in c.read_with_row_ids().collect()}
    assert got2[9] not in set(ids.values())

    t2 = TxLogTable.create(spark, tdir + "_scd2",
                           _scd2_df(spark, [(1, 10, 0, None)]),
                           row_tracking=True)
    ids0 = {(r["k"], r["__START_AT"]): r["_row_id"]
            for r in t2.read_with_row_ids().collect()}
    t2.apply_changes_scd2(
        _scd2_changes(spark, [(1, 11, 1, "update_postimage")]),
        key="k", sequence_by="seq")
    got = {(r["k"], r["__START_AT"]): r["_row_id"]
           for r in t2.read_with_row_ids().collect()}
    assert got[(1, 0)] == ids0[(1, 0)], "closed chain row keeps its id"
    assert got[(1, 1)] != ids0[(1, 0)], "new history row gets a fresh id"


def test_clone_carries_identity_and_properties(spark, tdir):
    """Clone metadata carry: a clone of an IDENTITY table keeps
    assigning ids (continuing past the source's high-water mark — the
    old selective carry silently dropped the identity definition), and
    table properties ride too."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10), ("b", 20)], "grp string, v int"),
        identity_columns={"id": 1})
    t.set_properties({"delta.appendOnly": "false", "team": "curation"})
    c = t.clone_to(tdir + "_clone")
    assert c.properties().get("team") == "curation"
    c.append(spark.createDataFrame([("c", 30)], "grp string, v int"))
    ids = sorted(r["id"] for r in c.read().collect())
    assert ids == [1, 2, 3], f"identity continues on the clone: {ids}"


def test_row_tracking_restore_and_time_travel(spark, tdir):
    """RESTORE and time travel compose with row tracking: restoring to
    a pre-DML version re-lists the old segments, whose baseRowIds ride
    the carried stats — the restored rows serve their ORIGINAL ids, and
    read_with_row_ids(version=...) time-travels the id mapping too."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          row_tracking=True)
    ids0 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    t.delete_where(F.col("k") == 1)
    assert sorted(r["k"] for r in t.read_with_row_ids().collect()) == [2]
    # time travel serves the pre-delete id mapping
    past = {r["k"]: r["_row_id"]
            for r in t.read_with_row_ids(version=0).collect()}
    assert past == ids0
    t.restore(0)
    got = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert got == ids0, "restored rows keep their original ids"
    # post-restore appends still allocate past the high-water mark
    t.append(_df(spark, [(3, "c", 30)]))
    got2 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    assert got2[3] not in set(ids0.values())


def test_set_row_tracking_stream_transparent(spark, tdir):
    """The SET ROW TRACKING backfill commit (re-add of every active
    file) must be invisible to the append-only table stream — serving
    its adds would re-emit the whole table as if appended."""
    from distributed_database_for_sql_spark.sources.txlog_stream import (
        TxLogTableDataSource)

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    v = t.enable_row_tracking()
    t.append(_df(spark, [(2, "b", 20)]))
    ds = TxLogTableDataSource({"path": t.path})
    rows = list(ds.simpleStreamReader(ds.schema())
                .readBetweenOffsets({"version": 0},
                                    {"version": t.latest_version() + 1}))
    ks = sorted(r[0] for r in rows)
    assert ks == [1, 2], \
        f"backfill commit (v{v}) must not re-emit rows: {ks}"


# -- r8: string stats truncation ---------------------------------------------

def test_string_stats_truncated_but_sound(spark, tdir):
    """String min/max stats are truncated to 32 chars (text-heavy
    tables must not bloat every commit with kilobyte stat payloads) and
    stay SOUND: the min is a prefix lower bound, the max is
    truncated-then-incremented — a point probe on a long string still
    keeps its file; clearly-out-of-range probes still prune."""
    import json as _json

    from distributed_database_for_sql_spark.sources.txlog import (
        _STAT_MAX_STRING, _truncate_max, _truncate_min)

    long_a = "a" * 100 + "end"
    long_z = "z" * 100 + "end"
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, long_a), (2, long_z)],
                              "k int, body string"))
    t.append(spark.createDataFrame([(3, "mmm")], "k int, body string"))
    active, _ = t._snapshot()
    for stats in active.values():
        for v in list(stats["minValues"].values()) + \
                list(stats["maxValues"].values()):
            if isinstance(v, str):
                assert len(v) <= _STAT_MAX_STRING + 1, \
                    f"stat payload not truncated: {v!r}"
    # soundness: exact probes on the long strings keep their file
    assert sorted(r["k"] for r in
                  t.read_where([("body", "=", long_a)]).collect()) == [1]
    assert sorted(r["k"] for r in
                  t.read_where([("body", "=", long_z)]).collect()) == [2]
    # pruning still works for clearly-out-of-range probes
    kept, total = t.prune_files([("body", "=", "~~~beyond-z")])
    assert len(kept) < total
    # helper semantics: min is a prefix bound, max strictly dominates
    v = "x" * 40
    assert _truncate_min(v) == "x" * 32 and _truncate_min(v) <= v
    assert _truncate_max(v) > v and len(_truncate_max(v)) <= 32
    assert _truncate_max("short") == "short"


# -- r8: TBLPROPERTIES -------------------------------------------------------

def test_tblproperties_set_unset_and_append_only(spark, tdir):
    """SET/UNSET TBLPROPERTIES are metadata-only commits; the
    delta.appendOnly property refuses row-changing commands while
    appends and layout/metadata ops stay allowed; retention default
    honors delta.deletedFileRetentionDuration."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    files_before = t._snapshot_files()[0]
    t.set_properties({"delta.appendOnly": "true", "team": "data-eng"})
    assert t._snapshot_files()[0] == files_before, "metadata-only"
    assert t.properties() == {"delta.appendOnly": "true",
                              "team": "data-eng"}
    # appends still fine; row changes refused
    t.append(_df(spark, [(2, "b", 20)]))
    with pytest.raises(ValueError, match="appendOnly"):
        t.delete_where(F.col("k") == 1)
    with pytest.raises(ValueError, match="appendOnly"):
        t.update_where({"v": F.lit(0)}, F.lit(True))
    with pytest.raises(ValueError, match="appendOnly"):
        t.merge_upsert(_df(spark, [(1, "a", 99)]), "k")
    t.optimize_compact()  # layout op allowed
    # per-key merge + unset (missing keys no-op)
    t.set_properties({"team": "ml"})
    assert t.properties()["team"] == "ml"
    assert t.properties()["delta.appendOnly"] == "true"
    t.unset_properties(["delta.appendOnly", "missing"])
    assert "delta.appendOnly" not in t.properties()
    t.delete_where(F.col("k") == 1)  # allowed again
    assert sorted(r["k"] for r in t.read().collect()) == [2]
    # retention default parses the property
    t.set_properties({"delta.deletedFileRetentionDuration":
                      "interval 0 hours"})
    assert t._retention_default() == 0.0
    would = t.vacuum(dry_run=True)  # 0-hour retention from the property
    assert would, "de-listed segments collectible under property default"
    # properties survive a fresh handle + checkpoint resolution
    fresh = TxLogTable(spark, tdir)
    assert fresh.properties()["team"] == "ml"


def test_tblproperties_via_engine_sql(spark, tmp_path):
    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    t = TxLogTable.create(spark, str(tmp_path / "tp"),
                          _df(spark, [(1, "a", 10)]))
    engine.register_txlog("tp_t", t)
    engine.sql("ALTER TABLE tp_t SET TBLPROPERTIES "
               "('delta.appendOnly' = 'true', 'owner' = 'me')")
    rows = engine.sql("SHOW TBLPROPERTIES tp_t").collect()
    assert {(r["key"], r["value"]) for r in rows} == \
        {("delta.appendOnly", "true"), ("owner", "me")}
    with pytest.raises(ValueError, match="appendOnly"):
        engine.sql("DELETE FROM tp_t WHERE k = 1")
    engine.sql("ALTER TABLE tp_t UNSET TBLPROPERTIES ('delta.appendOnly')")
    engine.sql("DELETE FROM tp_t WHERE k = 1")
    assert spark.sql("SELECT * FROM tp_t").count() == 0


def test_identity_high_water_survives_checkpoint(spark, tdir):
    """The identity high-water mark folds into checkpoint manifests like
    every other meta key: a fresh handle on a checkpointed log continues
    ids from the suffix-resolved mark, not from a full replay."""
    t = TxLogTable.create(spark, tdir,
                          spark.createDataFrame([("a", 1)],
                                                "grp string, v int"),
                          identity_columns={"id": 1})
    t.checkpoint_interval = 3
    for i in range(7):  # crosses two checkpoints
        t.append(spark.createDataFrame([(f"g{i}", i)], "grp string, v int"))
    import glob as _glob
    assert _glob.glob(os.path.join(t.path, "_txlog", "*.checkpoint.json"))
    fresh = TxLogTable(spark, tdir)
    fresh.append(spark.createDataFrame([("z", 99)], "grp string, v int"))
    ids = sorted(r["id"] for r in fresh.read().collect())
    assert ids == list(range(1, 10)), f"dense across checkpoints: {ids}"


# -- r8: INSERT OVERWRITE + empty-table DDL ----------------------------------

def test_insert_overwrite_full_and_partition(spark, tdir):
    """Full-table INSERT OVERWRITE swaps contents in one atomic commit
    (time travel intact); the partition-scoped form replaces ONLY the
    named partition and refuses rows outside it; CDF records the churn
    as delete+insert."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 1, 10), ("a", 2, 20), ("b", 3, 30)],
                              "p string, k int, v int"),
        partition_by="p", enable_cdf=True)
    # partition-scoped: replace p=a only
    v = t.insert_overwrite(
        spark.createDataFrame([("a", 9, 90)], "p string, k int, v int"),
        partitions={"p": "a"})
    assert sorted((r["p"], r["k"]) for r in t.read().collect()) == \
        [("a", 9), ("b", 3)]
    assert t.history()[-1]["op"] == "OVERWRITE"
    ch = t.read_changes(v, v)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "delete"), (2, "delete"), (9, "insert")]
    # rows outside the partition refuse
    with pytest.raises(ValueError, match="outside the replaced"):
        t.insert_overwrite(
            spark.createDataFrame([("b", 7, 70)], "p string, k int, v int"),
            partitions={"p": "a"})
    # full overwrite
    t.insert_overwrite(
        spark.createDataFrame([("c", 100, 0)], "p string, k int, v int"))
    assert [(r["p"], r["k"]) for r in t.read().collect()] == [("c", 100)]
    # time travel to v0 still serves the original rows
    assert sorted(r["k"] for r in t.read(version=0).collect()) == [1, 2, 3]


def test_insert_overwrite_and_create_ddl_via_engine(spark, tmp_path):
    from distributed_database_for_sql_spark.engine import Engine

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    # empty-table DDL (the COPY INTO landing shape), complex types OK
    loc = str(tmp_path / "empty_t")
    engine.sql(f"CREATE TABLE land (k INT, d DECIMAL(10,2)) "
               f"USING TXLOG LOCATION '{loc}'")
    assert spark.sql("SELECT * FROM land").count() == 0
    t = engine.txlog_tables["land"]
    assert t.read().schema["d"].dataType.simpleString() == "decimal(10,2)"
    engine.sql("INSERT INTO land VALUES (1, 1.50), (2, 2.50)")
    engine.sql("INSERT OVERWRITE land SELECT 9 AS k, CAST(9.99 AS "
               "DECIMAL(10,2)) AS d")
    rows = spark.sql("SELECT * FROM land").collect()
    assert [(r["k"], str(r["d"])) for r in rows] == [(9, "9.99")]


# -- r8: parquet checkpoints + auto-compact ----------------------------------

def test_parquet_checkpoint_format_interop(spark, tdir):
    """txlog.checkpoint.format = parquet writes the Delta-shaped
    columnar manifest (adds as rows, table state in key-value metadata);
    a fresh handle resolves snapshots from it with the same
    read-call bound as the JSON format, stats-based pruning included."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 4
    t.set_properties({"txlog.checkpoint.format": "parquet"})
    for i in range(8):
        t.append(_df(spark, [(i + 2, "b", (i + 2) * 10)]))
    import glob as _glob
    pq_ckpts = _glob.glob(os.path.join(t.path, "_txlog",
                                       "*.checkpoint.parquet"))
    assert pq_ckpts, "parquet checkpoints expected"
    assert not any(os.path.exists(p.replace(".parquet", ".json"))
                   for p in pq_ckpts), "no duplicate json manifest"
    fresh = TxLogTable(spark, tdir)
    fresh.checkpoint_interval = 4
    reads = []
    orig = fresh._read_commit

    def counting(v):
        reads.append(v)
        return orig(v)

    fresh._read_commit = counting
    got = sorted(r["k"] for r in fresh.read().collect())
    assert got == list(range(1, 10))
    replayed = [v for v in set(reads) if v <= fresh.latest_version()]
    assert len(replayed) <= fresh.checkpoint_interval + 1, \
        f"parquet checkpoint not used: replayed {sorted(replayed)}"
    # stats survive the columnar round-trip: pruning still works
    kept, total = fresh.prune_files([("k", "=", 9)])
    assert len(kept) < total
    # time travel across the format boundary still resolves
    # (v0 CREATE: 1 row, v1 SET TBLPROPERTIES, v2 first append: 2 rows)
    assert fresh.read(version=2).count() == 2


def test_multipart_parquet_checkpoint(spark, tdir):
    """txlog.checkpoint.partSize splits the columnar manifest's add list
    across <v>.checkpoint.<i>.<n>.parquet parts (Delta's multi-part
    shape — write and resolution parallelize on 100k-file tables); a
    fresh handle resolves from the parts with the checkpoint-bounded
    read count, and a TORN multi-part write (missing part) falls back
    to full replay instead of serving a partial file list."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 4
    t.set_properties({"txlog.checkpoint.format": "parquet",
                      "txlog.checkpoint.partSize": "2"})
    for i in range(8):
        t.append(_df(spark, [(i + 2, "b", (i + 2) * 10)]))
    import glob as _glob
    parts = sorted(_glob.glob(os.path.join(
        t.path, "_txlog", "*.checkpoint.[0-9]*.parquet")))
    assert parts, "multi-part checkpoint expected"
    n = int(os.path.basename(parts[-1]).split(".")[-2])
    assert n >= 2 and len({p.rsplit(".", 3)[0] for p in parts}) >= 1
    fresh = TxLogTable(spark, tdir)
    fresh.checkpoint_interval = 4
    reads = []
    orig = fresh._read_commit

    def counting(v):
        reads.append(v)
        return orig(v)

    fresh._read_commit = counting
    assert sorted(r["k"] for r in fresh.read().collect()) == \
        list(range(1, 10))
    replayed = [v for v in set(reads) if v <= fresh.latest_version()]
    assert len(replayed) <= fresh.checkpoint_interval + 1, \
        f"multi-part checkpoint not used: replayed {sorted(replayed)}"
    # torn write: delete one part of the NEWEST checkpoint — resolution
    # must fall back to replay and still serve the right rows
    newest = sorted(parts)[-1]
    os.remove(newest)
    fresh2 = TxLogTable(spark, tdir)
    assert sorted(r["k"] for r in fresh2.read().collect()) == \
        list(range(1, 10)), "torn multi-part checkpoint: replay fallback"


def test_v2_checkpoint_write_read_fence_and_torn(spark, tdir,
                                                 monkeypatch):
    """Delta 3.x V2 checkpoints (r12): enable_v2_checkpoints flips the
    format in ONE commit (protocol readerFeature + property); future
    checkpoints land as a metadata-sized top manifest + parquet
    sidecars holding the add list; a fresh handle resolves with the
    same O(interval) read-call bound and stats-based pruning; a reader
    WITHOUT the v2Checkpoint feature refuses the TABLE loudly; a torn
    write (missing sidecar) falls back to replay, never a partial
    file list."""
    import glob as _glob

    from distributed_database_for_sql_spark.sources import txlog as _m

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 4
    t.enable_v2_checkpoints(part_size=2)
    proto = t.protocol()
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    for i in range(8):
        t.append(_df(spark, [(i + 2, "b", (i + 2) * 10)]))
    tops = _glob.glob(os.path.join(t.path, "_txlog",
                                   "*.checkpoint.v2.json"))
    sidecars = _glob.glob(os.path.join(t.path, "_txlog", "_sidecars",
                                       "*.parquet"))
    assert tops and sidecars, "v2 manifest + sidecars expected"
    v = max(int(os.path.basename(p).split(".")[0]) for p in tops)
    assert not os.path.exists(t._checkpoint_path(v)), \
        "no duplicate classic manifest"
    # partSize=2 → the newest checkpoint's add list spans >1 sidecar
    assert len([s for s in sidecars
                if os.path.basename(s).startswith(f"{v:08d}-")]) >= 2
    fresh = TxLogTable(spark, tdir)
    fresh.checkpoint_interval = 4
    reads = []
    orig = fresh._read_commit

    def counting(ver):
        reads.append(ver)
        return orig(ver)

    fresh._read_commit = counting
    assert sorted(r["k"] for r in fresh.read().collect()) == \
        list(range(1, 10))
    replayed = [x for x in set(reads) if x <= fresh.latest_version()]
    assert len(replayed) <= fresh.checkpoint_interval + 1, \
        f"v2 checkpoint not used: replayed {sorted(replayed)}"
    # stats survive the sidecar round-trip: pruning still works
    kept, total = fresh.prune_files([("k", "=", 9)])
    assert len(kept) < total
    # time travel before the v2 switch still resolves
    assert fresh.read(version=2).count() == 2
    # FEATURE FENCE: a pre-v2 reader must refuse the TABLE (silently
    # ignoring the manifest+sidecar layout would resolve wrong state)
    monkeypatch.setattr(
        _m, "_SUPPORTED_READER_FEATURES",
        frozenset({"deletionVectors", "columnMapping", "typeWidening"}))
    legacy = TxLogTable(spark, tdir)
    with pytest.raises(RuntimeError, match="v2Checkpoint"):
        legacy.read()
    monkeypatch.undo()
    # torn v2 write: delete ONE sidecar of the newest checkpoint —
    # resolution falls back (older checkpoint / replay), rows intact
    victim = sorted(s for s in sidecars
                    if os.path.basename(s).startswith(f"{v:08d}-"))[0]
    os.remove(victim)
    fresh2 = TxLogTable(spark, tdir)
    assert sorted(r["k"] for r in fresh2.read().collect()) == \
        list(range(1, 10)), "torn v2 checkpoint: fallback failed"


def test_uniform_iceberg_export_churn(spark, tdir):
    """r13 (VERDICT r12 item 6): UniForm-shape Iceberg metadata export.
    Each generate() adds ONE deterministic Iceberg snapshot over the
    current txlog snapshot's parquet (zero data copies); an Iceberg-side
    planner (version-hint -> metadata.json -> manifest list -> manifests)
    reproduces the exact active file set and record counts through
    append / delete / compaction churn; manifests whose files all
    survive are REUSED (O(changed files) refresh); old snapshots stay
    time-travelable; regenerating the same version is a no-op; DV'd
    snapshots export position deletes (r14) that a PURGE retires;
    enable_uniform() refreshes per commit."""
    import glob as _glob

    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(
        spark, [(i, "ab"[i % 2], i * 10) for i in range(1, 9)]))
    t.generate_iceberg_metadata()                            # snap 0

    def _planned():
        files = uniform.plan_files(tdir)
        return (sorted(f["file_path"] for f in files),
                sum(f["record_count"] for f in files))

    def _active():
        live, _ = t._snapshot_files()
        return sorted(os.path.abspath(p) for p in live)

    paths, recs = _planned()
    assert paths == _active() and recs == 8

    # append churn: new manifest for the delta, old manifest REUSED
    t.append(_df(spark, [(9, "c", 90), (10, "c", 100)]))     # v1
    t.generate_iceberg_metadata()                            # snap 1
    paths, recs = _planned()
    assert paths == _active() and recs == 10
    meta = uniform.current_metadata(tdir)
    entries = uniform._read_manifest_list(
        next(s for s in meta["snapshots"] if s["snapshot-id"] == 1)
        ["manifest-list"])
    assert any(e["existing_files_count"] > 0
               and e["added_files_count"] == 0 for e in entries), \
        "surviving manifest must be reused, not rewritten"
    assert any(e["added_files_count"] > 0 for e in entries)

    # delete churn (copy-on-write): retired manifest's survivors are
    # rewritten; the planned set still matches the snapshot exactly
    t.delete_where(F.col("k") <= 2)                          # v2
    t.generate_iceberg_metadata()                            # snap 2
    paths, recs = _planned()
    assert paths == _active() and recs == 8

    # compaction churn: OPTIMIZE rewrites files wholesale
    t.optimize_compact(target_segments=1)                    # v3
    t.generate_iceberg_metadata()                            # snap 3
    paths, recs = _planned()
    assert paths == _active() and recs == 8
    rows = sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect())
    assert rows == list(range(3, 11))

    # history: every exported snapshot stays time-travelable, and the
    # snapshot/metadata logs track the lineage
    assert uniform.read_snapshot(spark, tdir, 0).count() == 8
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir, 2).collect()) == rows
    meta = uniform.current_metadata(tdir)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [0, 1, 2, 3]
    assert len(meta["snapshot-log"]) == 4
    assert len(meta["metadata-log"]) == 3, "prior metadata files logged"
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == 3

    # idempotent: regenerating the current version changes nothing
    hint = os.path.join(tdir, "metadata", "version-hint.text")
    before = open(hint).read()
    n_files = len(_glob.glob(os.path.join(tdir, "metadata", "*")))
    t.generate_iceberg_metadata()
    assert open(hint).read() == before
    assert len(_glob.glob(os.path.join(tdir, "metadata", "*"))) == n_files

    # DV'd snapshot: exports POSITION DELETES (r14) instead of refusing
    # — the MoR read applies them via the (file, position) anti-join
    t.delete_where(F.col("k") == 9, use_dv=True)             # v4
    t.generate_iceberg_metadata()                            # snap 4
    dels = uniform.plan_deletes(tdir)
    assert [d["content"] for d in dels] == [1]
    assert sum(d["record_count"] for d in dels) == 1
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [3, 4, 5, 6, 7, 8, 10]
    t.reorg_purge()                                          # v5
    t.generate_iceberg_metadata()                            # snap 5
    assert uniform.plan_deletes(tdir) == [], "PURGE retires the deletes"
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [3, 4, 5, 6, 7, 8, 10]

    # UniForm mode: every data commit refreshes the export by itself
    t.enable_uniform()                                       # v6 + export
    t.append(_df(spark, [(50, "z", 1)]))                     # v7 + export
    assert int(open(hint).read()) == 7, "per-commit auto-refresh"
    paths, _ = _planned()
    assert paths == _active()


def test_uniform_iceberg_maintenance_and_pruning(spark, tdir):
    """r13: the Iceberg export's scale levers. (1) PARTITION PRUNING at
    both metadata levels: a partition_filter skips whole manifests via
    the manifest-list's partition summaries (the skipped manifest is
    never even opened) and filters file entries in the survivors.
    (2) MANIFEST COMPACTION: past txlog.uniform.maxManifests the refresh
    rewrites the live file set into chunked manifests instead of
    accreting one per refresh (planning stays O(live files / chunk), not
    O(refresh count)); surviving entries keep their original snapshot
    lineage as EXISTING.  (3) expire_snapshots bounds the snapshot list
    like cleanup_metadata bounds the Delta log: expired manifest-lists /
    manifests are deleted unless a retained snapshot still references
    them, and the current snapshot always survives."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame(
            [(i, "ab"[i % 2], i * 10) for i in range(1, 9)],
            "k int, grp string, v int"),
        partition_by="grp")
    t.generate_iceberg_metadata()                            # snap 0

    # -- (1) partition pruning -----------------------------------------
    files_a = uniform.plan_files(tdir, partition_filter={"grp": "a"})
    assert files_a and all(f["partition"] == {"grp": "a"}
                           for f in files_a)
    rows = sorted(r["k"] for r in uniform.read_snapshot(
        spark, tdir, partition_filter={"grp": "b"}).collect())
    assert rows == [1, 3, 5, 7]  # "ab"[i % 2] == "b" for odd i
    # manifest-level skip: append a partition-c-only batch (its own
    # manifest), then plan grp=c — the reused grp=a/b manifest must be
    # summary-skipped without being opened
    t.append(spark.createDataFrame([(100, "c", 1), (101, "c", 2)],
                                   "k int, grp string, v int"))  # v1
    t.generate_iceberg_metadata()                            # snap 1
    opened = []
    real = uniform._read_manifest

    def counting(path):
        opened.append(os.path.basename(path))
        return real(path)

    uniform._read_manifest = counting
    try:
        files_c = uniform.plan_files(tdir, partition_filter={"grp": "c"})
    finally:
        uniform._read_manifest = real
    assert sorted(f["partition"]["grp"] for f in files_c) == ["c", "c"]
    assert len(opened) == 1 and opened[0].startswith("manifest-00000001"), \
        f"summary skip failed: opened {opened}"

    # -- (2) manifest compaction -----------------------------------------
    t.set_properties({"txlog.uniform.maxManifests": "3"})    # v2
    for i in range(4):                                       # v3-v6
        t.append(spark.createDataFrame([(200 + i, "a", 1)],
                                       "k int, grp string, v int"))
        t.generate_iceberg_metadata()
    meta = uniform.current_metadata(tdir)
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    entries = uniform._read_manifest_list(cur["manifest-list"])
    assert len(entries) <= 3, \
        f"compaction must cap the manifest count, got {len(entries)}"
    comp_rows = [r for e in entries
                 for r in uniform._read_manifest(e["manifest_path"])]
    assert any(r["status"] == 0 and r["snapshot_id"] <
               meta["current-snapshot-id"] for r in comp_rows), \
        "compacted entries keep their original snapshot lineage"
    planned = sorted(f["file_path"] for f in uniform.plan_files(tdir))
    live, _ = t._snapshot_files()
    assert planned == sorted(os.path.abspath(p) for p in live)

    # -- (3) snapshot expiry ----------------------------------------------
    n_before = len(meta["snapshots"])
    assert n_before >= 5
    victims = uniform.expire_snapshots(tdir, keep_last=2)
    assert victims, "expiry must collect unreferenced metadata files"
    assert all(not os.path.exists(p) for p in victims)
    meta = uniform.current_metadata(tdir)
    assert len(meta["snapshots"]) == 2
    assert meta["current-snapshot-id"] == max(
        s["snapshot-id"] for s in meta["snapshots"])
    # retained snapshots still plan exactly (shared manifests survived)
    planned = sorted(f["file_path"] for f in uniform.plan_files(tdir))
    assert planned == sorted(os.path.abspath(p) for p in live)
    # expiry is idempotent at the floor
    assert uniform.expire_snapshots(tdir, keep_last=2) == []


def test_uniform_iceberg_name_mapping_for_column_mapped_tables(spark,
                                                               tdir):
    """r13: a COLUMN-MAPPED source table (physical parquet names differ
    from logical names after RENAME, or are opaque ids in id mode)
    exports Iceberg's ``schema.name-mapping.default`` property — the
    spec's binding from file column names to schema field ids for
    parquet without field-id metadata (exactly what real UniForm
    emits).  read_snapshot serves the LOGICAL schema through it."""
    import json as _json

    from distributed_database_for_sql_spark.sources import uniform

    # name-mode mapping via RENAME COLUMN
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.rename_column("v", "val")
    t.generate_iceberg_metadata()
    meta = uniform.current_metadata(tdir)
    nm = _json.loads(meta["properties"]["schema.name-mapping.default"])
    schema = meta["schemas"][meta["current-schema-id"]]
    assert [f["name"] for f in schema["fields"]] == ["k", "grp", "val"], \
        "Iceberg schema carries LOGICAL names"
    val_id = next(f["id"] for f in schema["fields"] if f["name"] == "val")
    entry = next(e for e in nm if e["field-id"] == val_id)
    assert "v" in entry["names"], "physical file name bound to field id"
    got = uniform.read_snapshot(spark, tdir)
    assert sorted(got.columns) == ["grp", "k", "val"]
    assert sorted((r["k"], r["val"]) for r in got.collect()) == \
        [(1, 10), (2, 20)]

    # id-mode mapping: every physical name is an opaque col-<uuid>
    t2 = TxLogTable.create(spark, tdir + "_id",
                           _df(spark, [(7, "z", 70)]),
                           column_mapping_mode="id")
    t2.generate_iceberg_metadata()
    got2 = uniform.read_snapshot(spark, tdir + "_id")
    assert sorted(got2.columns) == ["grp", "k", "v"]
    assert [(r["k"], r["v"]) for r in got2.collect()] == [(7, 70)]
    # an unmapped table emits no name-mapping property at all
    t3 = TxLogTable.create(spark, tdir + "_plain",
                           _df(spark, [(1, "a", 1)]))
    t3.generate_iceberg_metadata()
    assert "schema.name-mapping.default" not in \
        uniform.current_metadata(tdir + "_plain")["properties"]


def test_generate_iceberg_metadata_sql_route(spark, tdir):
    """GENERATE iceberg_metadata FOR TABLE t routes through the engine
    like the symlink-manifest GENERATE and returns the metadata.json
    path; the export is immediately plannable by the Iceberg-side
    reader."""
    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    eng = Engine(spark, tdir + "_data")
    eng.register_txlog("ice", t)
    row = eng.sql("GENERATE iceberg_metadata FOR TABLE ice").collect()[0]
    assert row["table_name"] == "ice"
    assert row["manifest"].endswith(".metadata.json")
    assert os.path.exists(row["manifest"])
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == [1, 2]
    # the classic GENERATE is untouched by the widened grammar
    p = eng.sql("GENERATE symlink_format_manifest FOR TABLE ice") \
        .collect()[0]["manifest"]
    assert os.path.exists(p)
    # EXPIRE SNAPSHOTS routes to uniform.expire_snapshots
    t.append(_df(spark, [(3, "c", 30)]))
    eng.sql("GENERATE iceberg_metadata FOR TABLE ice")
    row = eng.sql("EXPIRE SNAPSHOTS FOR TABLE ice KEEP LAST 1") \
        .collect()[0]
    assert row["expired_metadata_files"] > 0
    from distributed_database_for_sql_spark.sources.uniform import \
        current_metadata
    assert len(current_metadata(tdir)["snapshots"]) == 1


def test_uniform_generate_resolves_version_before_snapshot(spark, tdir):
    """r14 (ADVICE r13, medium): generate() resolves the export version
    FIRST and reads the file set AT that version, so a concurrent
    commit landing mid-export can never mislabel version N's file set
    as snapshot N+1 (which the already-exported early-return would then
    have made permanent).  Simulated deterministically: a second writer
    handle commits an append the moment the exporter reads the
    snapshot."""
    import distributed_database_for_sql_spark.sources.txlog as _m
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    racer = TxLogTable(spark, tdir)
    real = _m.TxLogTable._snapshot_full
    fired = {"done": False}

    def racing(self, version=None):
        if not fired["done"]:
            fired["done"] = True
            racer.append(_df(spark, [(3, "c", 30)]))  # lands mid-export
        return real(self, version)

    _m.TxLogTable._snapshot_full = racing
    try:
        t.generate_iceberg_metadata()            # exports v0, not v1
    finally:
        _m.TxLogTable._snapshot_full = real
    meta = uniform.current_metadata(tdir)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [0]
    assert uniform.read_snapshot(spark, tdir, 0).count() == 2, \
        "snapshot 0 must carry version 0's file set, not the racer's"
    # the next refresh picks up the racer's commit as its OWN snapshot
    t.generate_iceberg_metadata()
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir, 1).collect()) == \
        [1, 2, 3]


def test_uniform_expire_retain_last_floor_with_age_cutoff(spark, tdir):
    """r14 (ADVICE r13 + VERDICT r13 item 5): expire_snapshots applies
    BOTH bounds when both are given — Iceberg's expireOlderThan +
    retainLast contract makes keep_last a minimum-retention floor, so
    snapshots inside the newest-N tail survive even when older than the
    cutoff."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.generate_iceberg_metadata()                            # snap 0
    for i in range(4):                                       # v1..v4
        t.append(_df(spark, [(10 + i, "b", i)]))
        t.generate_iceberg_metadata()                        # snaps 1..4
    meta = uniform.current_metadata(tdir)
    assert len(meta["snapshots"]) == 5
    # a cutoff in the future ages out EVERY snapshot; keep_last=3 must
    # still floor retention at the newest three
    cutoff = max(s["timestamp-ms"] for s in meta["snapshots"]) + 10_000
    uniform.expire_snapshots(tdir, keep_last=3, older_than_ms=cutoff)
    meta = uniform.current_metadata(tdir)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [2, 3, 4]
    for sid in (2, 3, 4):
        assert uniform.plan_files(tdir, snapshot_id=sid), \
            f"retained snapshot {sid} must still plan"


def test_uniform_record_count_backfilled_from_footer(spark, tdir,
                                                     monkeypatch):
    """r14 (ADVICE r13): adds that carry no numRecords stats (pre-stats
    commits) still export a REQUIRED record_count — backfilled from the
    parquet footer, a metadata-only read.  The planned record sum and
    the oracle-visible aggregate stay exact."""
    import distributed_database_for_sql_spark.sources.txlog as _m
    from distributed_database_for_sql_spark.sources import uniform

    monkeypatch.setattr(_m, "_file_stats", lambda p: None)
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20),
                                                   (3, "a", 30)]))
    monkeypatch.undo()
    active, _, _ = t._snapshot_full(None)
    assert all(s is None or s.get("numRecords") is None
               for s in active.values()), "scenario needs stat-less adds"
    t.generate_iceberg_metadata()
    files = uniform.plan_files(tdir)
    assert all(isinstance(f["record_count"], int) for f in files)
    assert sum(f["record_count"] for f in files) == 3


def test_vacuum_protects_retained_iceberg_snapshots(spark, tdir):
    """r14 (VERDICT r13 item 1, the top ask): VACUUM — full and LITE —
    must never delete a segment file that a RETAINED exported Iceberg
    snapshot still references, even when the txlog itself no longer
    lists it: an Iceberg-side reader time-traveling to that snapshot
    would hit missing files with no protocol error.  The sanctioned
    release path is expire-then-vacuum (real UniForm's maintenance
    order)."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(
        spark, [(i, "ab"[i % 2], i * 10) for i in range(1, 9)]))
    t.enable_uniform()                             # v1 + snap 1
    t.append(_df(spark, [(9, "c", 90)]))           # v2 + snap 2
    t.optimize_compact(target_segments=1)          # v3 + snap 3: de-lists
    meta = uniform.current_metadata(tdir)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2, 3]

    # zero retention: the pre-compaction segments are txlog-garbage but
    # Iceberg snapshots 1 and 2 still reference them — protected
    assert t.vacuum(retention_seconds=0) == []
    assert t.vacuum(retention_seconds=0, lite=True) == []
    for s in meta["snapshots"]:
        files = uniform.plan_files(tdir, snapshot_id=s["snapshot-id"])
        assert files and all(os.path.exists(f["file_path"])
                             for f in files), \
            f"snapshot {s['snapshot-id']} lost data files to VACUUM"
        assert uniform.read_snapshot(
            spark, tdir, s["snapshot-id"]).count() > 0

    # expire-then-vacuum releases exactly the orphaned segments
    uniform.expire_snapshots(tdir, keep_last=1)
    removed = t.vacuum(retention_seconds=0)
    assert removed, "post-expiry the retired segments must collect"
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        list(range(1, 10))
    assert sorted(r["k"] for r in t.read().collect()) == list(range(1, 10))


def test_uniform_refresh_reuse_is_metadata_only(spark, tdir):
    """r14 (VERDICT r13 item 4): the refresh's manifest-reuse decision
    reads the path-index sidecar, not the manifests — an append-only
    refresh opens ZERO prior manifests, and a partial-death refresh
    opens ONLY the manifests whose files died (for their survivors'
    snapshot lineage), never the full live set."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(
        spark, [(i, "ab"[i % 2], i * 10) for i in range(1, 9)]))
    t.generate_iceberg_metadata()                  # snap 0
    t.append(_df(spark, [(9, "c", 90)]))           # v1

    opened: list[str] = []
    real = uniform._read_manifest

    def counting(path):
        opened.append(os.path.basename(path))
        return real(path)

    uniform._read_manifest = counting
    try:
        t.generate_iceberg_metadata()              # snap 1: append-only
        append_only_reads = list(opened)
        opened.clear()
        t.delete_where(F.col("k") <= 2)            # v2: kills snap-0 files
        t.generate_iceberg_metadata()              # snap 2: partial death
        partial_reads = list(opened)
    finally:
        uniform._read_manifest = real
    assert append_only_reads == [], \
        f"append-only refresh must open no prior manifest: {append_only_reads}"
    assert partial_reads and all(
        n.startswith("manifest-00000000") for n in partial_reads), \
        f"partial refresh must open only the dying manifest: {partial_reads}"
    # and the planned set stays exact through the indexed reuse
    live, _ = t._snapshot_files()
    assert sorted(f["file_path"] for f in uniform.plan_files(tdir)) == \
        sorted(os.path.abspath(p) for p in live)


def test_uniform_stale_false_cache_expires(spark, tdir):
    """r14 (ADVICE r13): a writer handle that resolved UniForm=off
    before ANOTHER handle ran enable_uniform() re-resolves the flag
    within one checkpoint interval of commits — the exported Iceberg
    metadata catches up instead of silently diverging until the stale
    handle dies."""
    writer = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    writer.checkpoint_interval = 3
    writer.append(_df(spark, [(2, "b", 20)]))     # v1: caches False
    assert writer._uniform_enabled is False

    other = TxLogTable(spark, tdir)
    other.enable_uniform()                        # v2 + first export
    hint = os.path.join(tdir, "metadata", "version-hint.text")
    assert int(open(hint).read()) == 2

    # within checkpoint_interval commits the stale handle must re-read
    # the flag and refresh the export itself
    for i in range(writer.checkpoint_interval + 1):
        writer.append(_df(spark, [(30 + i, "c", i)]))
    assert writer._uniform_enabled is True
    assert int(open(hint).read()) == writer.latest_version(), \
        "stale-False handle never resumed the UniForm refresh"


def test_uniform_position_deletes_for_dv_snapshots(spark, tdir):
    """r14 (VERDICT r13 item 7): DV'd snapshots export Iceberg v2
    POSITION DELETES instead of refusing.  The delete file is real
    parquet (file_path/pos, spec field-ids) tracked by a content=1
    manifest; read_snapshot applies it MoR-style (broadcast anti-join
    on file+position); the delete entry is REUSED while the DV set is
    unchanged and re-emitted when it changes; REORG PURGE retires the
    delete manifest on the next refresh while HISTORICAL DV'd snapshots
    keep reading correctly; VACUUM after the purge cannot break a
    retained DV'd snapshot; expire_snapshots collects the delete
    parquet with its snapshots."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(spark, tdir, _df(
        spark, [(i, "ab"[i % 2], i * 10) for i in range(1, 11)]))
    t.generate_iceberg_metadata()                      # snap 0
    t.delete_where(F.col("k") % 5 == 0, use_dv=True)   # v1: k=5,10
    t.generate_iceberg_metadata()                      # snap 1
    dels = uniform.plan_deletes(tdir)
    assert [d["content"] for d in dels] == [1]
    assert sum(d["record_count"] for d in dels) == 2
    dt = _pq.read_table(dels[0]["file_path"])          # real spec parquet
    assert dt.column_names == ["file_path", "pos"]
    assert dt.num_rows == 2
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [1, 2, 3, 4, 6, 7, 8, 9]
    meta = uniform.current_metadata(tdir)
    snap1 = next(s for s in meta["snapshots"] if s["snapshot-id"] == 1)
    assert snap1["summary"]["total-position-deletes"] == "2"
    assert snap1["summary"]["total-delete-files"] == "1"

    # append with the DV set unchanged: the delete entry is REUSED
    t.append(_df(spark, [(20, "c", 200)]))             # v2
    t.generate_iceberg_metadata()                      # snap 2
    dels2 = uniform.plan_deletes(tdir)
    assert dels2[0]["file_path"] == dels[0]["file_path"], \
        "unchanged DV set must reuse the delete file"
    meta = uniform.current_metadata(tdir)
    ml2 = uniform._read_manifest_list(
        next(s for s in meta["snapshots"] if s["snapshot-id"] == 2)
        ["manifest-list"])
    de = next(e for e in ml2 if e.get("content") == 1)
    assert de["added_files_count"] == 0
    assert de["existing_files_count"] == 1
    assert de["existing_rows_count"] == 2
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [1, 2, 3, 4, 6, 7, 8, 9, 20]

    # a SECOND DV delete changes the fingerprint -> a fresh delete file
    t.delete_where(F.col("k") == 3, use_dv=True)       # v3
    t.generate_iceberg_metadata()                      # snap 3
    dels3 = uniform.plan_deletes(tdir)
    assert sum(d["record_count"] for d in dels3) == 3
    assert dels3[0]["file_path"] != dels[0]["file_path"]
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [1, 2, 4, 6, 7, 8, 9, 20]

    # PURGE retires the deletes; the HISTORICAL MoR snapshots stay
    # readable through the Iceberg tree (time travel)
    t.reorg_purge()                                    # v4
    t.generate_iceberg_metadata()                      # snap 4
    assert uniform.plan_deletes(tdir) == []
    assert uniform.plan_deletes(tdir, 3), \
        "historical snapshot keeps its delete files"
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [1, 2, 4, 6, 7, 8, 9, 20]

    # VACUUM cannot break retained DV'd snapshots: the purged-away data
    # files stay referenced by snaps 0-3 (and the delete parquet lives
    # under metadata/, which VACUUM never scans)
    t.vacuum(retention_seconds=0)
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir, 3).collect()) == \
        [1, 2, 4, 6, 7, 8, 9, 20]
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir, 1).collect()) == \
        [1, 2, 3, 4, 6, 7, 8, 9]

    # expire: the delete parquets collect with their snapshots once no
    # retained snapshot references them
    assert len(_glob.glob(os.path.join(
        tdir, "metadata", "delete-*.parquet"))) == 2
    victims = uniform.expire_snapshots(tdir, keep_last=1)
    assert victims and all(not os.path.exists(p) for p in victims)
    assert _glob.glob(os.path.join(
        tdir, "metadata", "delete-*.parquet")) == [], \
        "expired snapshots' delete files must collect"
    assert sorted(r["k"] for r in
                  uniform.read_snapshot(spark, tdir).collect()) == \
        [1, 2, 4, 6, 7, 8, 9, 20]


def test_v2_checkpoint_parquet_top(spark, tdir):
    """r13 (VERDICT r12 item 5): the V2 TOP manifest can be PARQUET
    (<v>.checkpoint.v2.parquet — the Delta 3.x spec's alternative to
    the JSON top, and what real Delta writers commonly emit).  A fresh
    handle resolves from the parquet top + sidecars with the same
    O(interval) read-call bound as the JSON top; the two top formats
    interoperate on one table; a torn parquet top falls back to the
    next older intact checkpoint / replay; cleanup collects .v2.parquet
    tops below the floor like every other manifest format."""
    import glob as _glob

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 3
    t.enable_v2_checkpoints(part_size=2, top="parquet")     # v1
    for i in range(5):
        t.append(_df(spark, [(i + 2, "b", (i + 2) * 10)]))  # v2-v6: ckpts at v3, v6
    pq_tops = _glob.glob(os.path.join(t.path, "_txlog",
                                      "*.checkpoint.v2.parquet"))
    assert pq_tops, "parquet top manifest expected"
    assert not _glob.glob(os.path.join(t.path, "_txlog",
                                       "*.checkpoint.v2.json")), \
        "no JSON top when v2Top=parquet"
    v = max(int(os.path.basename(p).split(".")[0]) for p in pq_tops)
    # fresh handle: resolves from the parquet top, same read-call bound
    fresh = TxLogTable(spark, tdir)
    fresh.checkpoint_interval = 3
    reads = []
    orig = fresh._read_commit
    fresh._read_commit = lambda ver: (reads.append(ver) or orig(ver))
    assert sorted(r["k"] for r in fresh.read().collect()) == \
        list(range(1, 7))
    replayed = {x for x in reads if x <= fresh.latest_version()}
    assert len(replayed) <= fresh.checkpoint_interval + 1, \
        f"parquet top not used: replayed {sorted(replayed)}"
    # stats survive the round-trip: pruning works off the sidecars
    kept, total = fresh.prune_files([("k", "=", 6)])
    assert len(kept) < total
    # interop: flip the top back to JSON on the SAME table
    t.set_properties({"txlog.checkpoint.v2Top": "json"})    # v7
    for i in range(2):
        t.append(_df(spark, [(i + 7, "c", 1)]))             # ckpt at v9
    assert _glob.glob(os.path.join(t.path, "_txlog",
                                   "*.checkpoint.v2.json")), \
        "JSON top resumes after the property flip"
    assert sorted(r["k"] for r in TxLogTable(spark, tdir)
                  .read().collect()) == list(range(1, 9))
    # torn parquet top: truncate it — resolution falls back cleanly
    victim = os.path.join(t.log_dir, f"{v:08d}.checkpoint.v2.parquet")
    with open(victim, "wb") as f:
        f.write(b"torn")
    assert TxLogTable(spark, tdir).read(version=v).count() == v, \
        "torn parquet top: fallback to older checkpoint / replay"
    # cleanup treats .v2.parquet tops as manifests below the floor
    t.cleanup_metadata(retention_hours=0)
    assert not _glob.glob(os.path.join(
        t.path, "_txlog", "*.checkpoint.v2.parquet")), \
        "pre-floor parquet tops collected"
    assert sorted(r["k"] for r in TxLogTable(spark, tdir)
                  .read().collect()) == list(range(1, 9))


def test_v2_checkpoint_interop_with_classic_formats(spark, tdir):
    """The three checkpoint formats interoperate on ONE table: classic
    JSON manifests written before the upgrade keep serving time travel,
    v2 manifests serve the current snapshot, and switching the property
    back to parquet resumes classic columnar manifests — resolution
    always picks the newest intact checkpoint regardless of format."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    for i in range(4):
        t.append(_df(spark, [(i + 2, "b", 1)]))   # json ckpts at 2, 4
    assert os.path.exists(t._checkpoint_path(2))
    t.enable_v2_checkpoints()
    for i in range(4):
        t.append(_df(spark, [(i + 6, "c", 1)]))
    import glob as _glob
    assert _glob.glob(os.path.join(t.path, "_txlog",
                                   "*.checkpoint.v2.json"))
    t.set_properties({"txlog.checkpoint.format": "parquet"})
    for i in range(2):
        t.append(_df(spark, [(i + 10, "d", 1)]))
    assert _glob.glob(os.path.join(t.path, "_txlog",
                                   "*.checkpoint.parquet"))
    fresh = TxLogTable(spark, tdir)
    assert sorted(r["k"] for r in fresh.read().collect()) == \
        list(range(1, 12))
    # time travel into each format era (v0 CREATE holds k=1; appends
    # at v1-4 add k=2..5; v5 = enable; v6-9 add k=6..9)
    assert fresh.read(version=3).count() == 4      # json era
    assert sorted(r["k"] for r in fresh.read(version=8).collect()) == \
        list(range(1, 9))                          # v2 era


def test_metadata_cleanup_log_retention(spark, tdir):
    """r12: delta.logRetentionDuration metadata cleanup bounds the LOG
    itself — commits and checkpoints strictly below the newest
    aged-past-retention checkpoint are deleted; every retained version
    still resolves checkpoint-first; versions below the floor raise a
    clear error; history/timestamp resolution confine themselves to
    the retained range."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 3
    t.set_properties({"delta.enableExpiredLogCleanup": "false"})
    for i in range(8):
        t.append(_df(spark, [(i + 2, "b", 1)]))   # ckpts at 3, 6, 9
    assert os.path.exists(t._checkpoint_path(9))
    # default 30-day retention: nothing has aged out
    assert t.cleanup_metadata() == []
    dry = t.cleanup_metadata(retention_hours=0, dry_run=True)
    assert dry and all(os.path.exists(p) for p in dry), \
        "dry run lists but deletes nothing"
    victims = t.cleanup_metadata(retention_hours=0)
    assert sorted(victims) == sorted(dry)
    assert t._earliest_version() == 9, "floor = newest aged checkpoint"
    assert not os.path.exists(os.path.join(t.log_dir, "00000000.json"))
    assert not os.path.exists(t._checkpoint_path(3))
    # retained versions resolve exactly (fresh handle, checkpoint-first)
    fresh = TxLogTable(spark, tdir)
    assert sorted(r["k"] for r in fresh.read().collect()) == \
        list(range(1, 10))
    assert fresh.read(version=9).count() == 9
    # below the floor: CLEAR error, not a FileNotFoundError mid-replay
    with pytest.raises(ValueError, match="predates the retained log"):
        fresh.read(version=8)
    assert [h["version"] for h in fresh.history()][0] == 9
    with pytest.raises(ValueError, match="retained log"):
        fresh.version_at_timestamp(0)
    # idempotent: nothing left below the floor
    assert fresh.cleanup_metadata(retention_hours=0) == []
    # writes continue normally on the truncated log
    fresh.append(_df(spark, [(100, "z", 1)]))
    assert 100 in {r["k"] for r in fresh.read().collect()}


def test_metadata_cleanup_auto_and_v2_sidecars(spark, tdir):
    """Cleanup runs automatically after a checkpoint write (unless
    delta.enableExpiredLogCleanup=false) and removes superseded V2
    sidecars along with their manifests."""
    import glob as _glob

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    t.enable_v2_checkpoints()
    t.set_properties(
        {"delta.logRetentionDuration": "interval 0 hours"})
    for i in range(6):
        t.append(_df(spark, [(i + 2, "b", 1)]))
    sidecars = _glob.glob(os.path.join(t.log_dir, "_sidecars",
                                       "*.parquet"))
    floor = t._earliest_version()
    assert floor > 0, "auto cleanup ran on a checkpoint write"
    assert all(int(os.path.basename(p).split("-")[0]) >= floor
               for p in sidecars), "superseded sidecars removed"
    assert sorted(r["k"] for r in TxLogTable(spark, tdir)
                  .read().collect()) == list(range(1, 8))


def test_metadata_cleanup_throttled_when_floor_unchanged(spark, tdir):
    """r13 (VERDICT r12 item 4): the post-checkpoint auto-cleanup is
    THROTTLED — after the one seeding scan, a checkpoint whose retention
    floor cannot have moved does NO cleanup I/O (cleanup_metadata is not
    entered at all, so its 4 globs + per-checkpoint _commit_ts reads
    never happen).  The gate re-opens the moment the earliest candidate
    checkpoint ages past retention (simulated here by dropping retention
    to 0), and a FRESH handle — which has no candidate knowledge — scans
    exactly once to seed its cache."""
    from distributed_database_for_sql_spark.sources import txlog as _tx

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    calls = {"n": 0, "globs": 0, "in_cleanup": False,
             "cleanup_globs": 0}
    real_cleanup = t.cleanup_metadata
    real_glob = _tx.glob.glob

    def counting_cleanup(*a, **kw):
        calls["n"] += 1
        calls["in_cleanup"] = True
        try:
            return real_cleanup(*a, **kw)
        finally:
            calls["in_cleanup"] = False

    def counting_glob(*a, **kw):
        # only cleanup-attributed globs matter: appends glob the log
        # directory for their own snapshot resolution regardless.
        if calls["in_cleanup"]:
            calls["cleanup_globs"] += 1
        return real_glob(*a, **kw)

    t.cleanup_metadata = counting_cleanup
    _tx.glob.glob = counting_glob
    try:
        t.append(_df(spark, [(2, "b", 1)]))   # v1: no ckpt yet
        t.append(_df(spark, [(3, "b", 1)]))   # v2: ckpt + seeding scan
        assert calls["n"] == 1, "first checkpoint seeds the cache"
        assert calls["cleanup_globs"] >= 4, "the seed scan really globbed"
        globs_after_seed = calls["cleanup_globs"]
        for i in range(4):                    # v3-v6: ckpts at v4, v6
            t.append(_df(spark, [(i + 4, "b", 1)]))
        assert calls["n"] == 1, \
            "30-day retention: floor cannot move — cleanup not entered"
        # the ONLY cleanup-related I/O on the skip path is one
        # _commit_ts read of the just-written commit: zero globs.
        assert calls["cleanup_globs"] == globs_after_seed, \
            "skip path must not glob the log directory"
        # gate re-opens when the pending candidate ages past retention
        t.set_properties(
            {"delta.logRetentionDuration": "interval 0 hours"})
        t.append(_df(spark, [(99, "z", 1)]))  # v8: ckpt, now eligible
        assert calls["n"] >= 2, "aged candidate re-opens the gate"
        assert t._earliest_version() > 0, "and the cleanup collected"
    finally:
        _tx.glob.glob = real_glob
        t.cleanup_metadata = real_cleanup
    # a fresh handle has no cache: its first checkpoint scans once
    fresh = TxLogTable(spark, tdir)
    fresh.checkpoint_interval = 2
    assert not fresh._cleanup_seeded
    fresh.append(_df(spark, [(100, "y", 1)]))
    fresh.append(_df(spark, [(101, "y", 1)]))
    assert fresh._cleanup_seeded, "fresh handle seeded on first ckpt"
    assert sorted(r["k"] for r in TxLogTable(spark, tdir).read()
                  .collect())[-3:] == [99, 100, 101]


def test_optimize_target_file_size(spark, tdir):
    """delta.targetFileSize drives the compaction's segment count from
    the snapshot's actual bytes — the knob that matters at scale, where
    a fixed segment count is meaningless but a target file size is the
    scan-planning sweet spot."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    for i in range(7):
        t.append(_df(spark, [(i + 2, "b", i)]))
    active, _ = t._snapshot()
    total = sum(os.path.getsize(os.path.join(t.path, p)) for p in active)
    # a target of ~half the table → 2 output segments
    t.set_properties({"delta.targetFileSize": str(max(1, total // 2))})
    t.optimize_compact()
    active2, _ = t._snapshot()
    assert len(active2) == 2, f"size-targeted count: {len(active2)}"
    assert t.read().count() == 8
    # explicit target_segments still overrides the property
    t.optimize_compact(target_segments=1)
    assert len(t._snapshot()[0]) == 1
    with pytest.raises(ValueError, match="bad size"):
        t.set_properties({"delta.targetFileSize": "huge"})
        t.append(_df(spark, [(99, "z", 0)]))
        t.optimize_compact()


def test_show_partitions(spark, tdir):
    """SHOW PARTITIONS lists the current snapshot's partitions from
    commit metadata — no data file opened; unpartitioned tables refuse."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("x", 1), ("y", 2), ("x", 3)],
                              "p string, v int"),
        partition_by="p")
    eng = Engine(spark, tdir + "_data")
    eng.register_txlog("parts", t)
    got = sorted(r["p"] for r in eng.sql("SHOW PARTITIONS parts").collect())
    assert got == ["x", "y"]
    # a partition fully deleted disappears from the listing
    t.delete_where(F.col("p") == "y")
    got = sorted(r["p"] for r in eng.sql("SHOW PARTITIONS parts").collect())
    assert got == ["x"]
    t2 = TxLogTable.create(spark, tdir + "_flat",
                           _df(spark, [(1, "a", 10)]))
    eng.register_txlog("flat", t2)
    with pytest.raises(ValueError, match="not partitioned"):
        eng.sql("SHOW PARTITIONS flat")


def test_auto_compact_property_bounds_file_count(spark, tdir):
    """delta.autoOptimize.autoCompact keeps micro-batch ingest from
    accreting small files: once the active count reaches the threshold
    an OPTIMIZE commit lands automatically; without the property the
    count grows without bound."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(0, "a", 0)]))
    t.set_properties({"delta.autoOptimize.autoCompact": "true",
                      "txlog.autoCompact.minNumFiles": "6"})
    for i in range(10):
        t.append(_df(spark, [(i + 1, "b", i)]).coalesce(1))
    active, _ = t._snapshot()
    assert len(active) < 6 + 2, f"auto-compact did not bound: {len(active)}"
    assert any(h["op"] == "OPTIMIZE" for h in t.history())
    assert sorted(r["k"] for r in t.read().collect()) == list(range(11))
    # rows and history survive; append return values stayed the append
    # commit versions (OPTIMIZE slots in between)


# -- r8: APPLY CHANGES INTO (CDC fold) ---------------------------------------

def test_apply_changes_out_of_order_cdc(spark, tdir):
    """Per key the HIGHEST sequence wins regardless of arrival order:
    stale updates lose, a winning delete removes the key, inserts for
    new keys land — all as ONE atomic TXN commit."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20),
                                                   (3, "c", 30)]))
    changes = spark.createDataFrame(
        [
            (1, "a", 99, 2, "update_postimage"),   # wins over seq 1
            (1, "a", 55, 1, "update_postimage"),   # stale: must lose
            (2, "b", 0, 1, "update_postimage"),    # loses to delete seq 2
            (2, "b", 0, 2, "delete"),              # wins: key 2 goes
            (4, "d", 40, 1, "insert"),             # new key
            (5, "e", 50, 2, "insert"),             # insert wins ...
            (5, "e", 50, 1, "delete"),             # ... over stale delete
        ],
        "k int, grp string, v int, seq int, _change_type string")
    v = t.apply_changes(changes, key="k", sequence_by="seq")
    assert t.history()[-1]["op"] == "APPLY CHANGES", "one atomic commit"
    assert v == 1
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 99), (3, 30), (4, 40), (5, 50)]
    # ambiguous sequencing refuses
    dup = spark.createDataFrame(
        [(1, "a", 1, 7, "insert"), (1, "a", 2, 7, "insert")],
        "k int, grp string, v int, seq int, _change_type string")
    with pytest.raises(ValueError, match="duplicate"):
        t.apply_changes(dup, key="k", sequence_by="seq")
    # an all-delete batch works (empty upsert arm)
    only_del = spark.createDataFrame(
        [(3, "c", 0, 9, "delete")],
        "k int, grp string, v int, seq int, _change_type string")
    t.apply_changes(only_del, key="k", sequence_by="seq")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 4, 5]


def _scd2_df(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v int, __START_AT int, __END_AT int")


def _scd2_changes(spark, rows):
    return spark.createDataFrame(rows,
                                 "k int, v int, seq int, _change_type string")


def test_apply_changes_scd2_chains(spark, tdir):
    """SCD2 fold: per key the batch's events order by sequence — each
    non-delete event becomes a history row ended by the next event's
    sequence, deletes close without adding, the existing open row closes
    at the batch's first sequence, untouched keys carry — all ONE atomic
    commit."""
    t = TxLogTable.create(spark, tdir, _scd2_df(
        spark, [(1, 10, 0, None), (2, 20, 0, None), (3, 30, 0, None)]))
    changes = _scd2_changes(spark, [
        (1, 12, 2, "update_postimage"),   # chain tail (arrives first)
        (1, 11, 1, "update_postimage"),
        (2, 0, 1, "delete"),              # close, then ...
        (2, 21, 3, "insert"),             # ... re-open at seq 3
        (4, 40, 1, "insert"),             # brand-new key
    ])
    v = t.apply_changes_scd2(changes, key="k", sequence_by="seq")
    assert v == 1
    hist = t.history()
    assert hist[-1]["op"] == "APPLY CHANGES SCD2"
    got = sorted((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [
        (1, 10, 0, 1), (1, 11, 1, 2), (1, 12, 2, None),
        (2, 20, 0, 1), (2, 21, 3, None),
        (3, 30, 0, None),
        (4, 40, 1, None),
    ]
    # time travel still serves the pre-fold state
    assert sorted(r["k"] for r in t.read(version=0).collect()) == [1, 2, 3]


def test_apply_changes_scd2_refusals(spark, tdir):
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [(1, 10, 0, None)]))
    with pytest.raises(ValueError, match="duplicate"):
        t.apply_changes_scd2(
            _scd2_changes(spark, [(1, 11, 1, "insert"),
                                  (1, 12, 1, "insert")]),
            key="k", sequence_by="seq")
    # batch must not carry the history columns
    bad = spark.createDataFrame(
        [(1, 11, 1, "insert", 9)],
        "k int, v int, seq int, _change_type string, __START_AT int")
    with pytest.raises(ValueError, match="history column"):
        t.apply_changes_scd2(bad, key="k", sequence_by="seq")
    # target without the history columns refuses
    t2 = TxLogTable.create(spark, tdir + "_plain",
                           _df(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="lacks the history column"):
        t2.apply_changes_scd2(
            _scd2_changes(spark, [(1, 11, 1, "insert")]),
            key="k", sequence_by="seq")


def test_apply_changes_scd2_frontier_guard(spark, tdir):
    """Settled history is immutable: a batch sequence at or below a
    key's max __START_AT refuses loudly instead of reordering history."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [(1, 10, 0, None)]))
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 11, 2, "update_postimage")]),
        key="k", sequence_by="seq")
    with pytest.raises(ValueError, match="settled history"):
        t.apply_changes_scd2(
            _scd2_changes(spark, [(1, 99, 1, "update_postimage")]),
            key="k", sequence_by="seq")
    # past the frontier it applies, closing the open row
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 13, 3, "update_postimage")]),
        key="k", sequence_by="seq")
    got = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [(10, 0, 2), (11, 2, 3), (13, 3, None)]


def test_apply_changes_scd2_frontier_includes_ends(spark, tdir):
    """r11 ADVICE (medium): the frontier is the key's max EVENT
    sequence — greatest(start, end) per row — not just max start.  A
    delete-closed key whose only history is [1, 5) must refuse a batch
    sequenced INSIDE the settled interval (e.g. a delete@3): the
    start-only guard accepted it, persisted a [3, 3) tombstone while
    the as-of view still showed the key alive at t=4, and the next
    splice silently shrank the settled row to [1, 3)."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [(1, 10, 1, None)]))
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 0, 5, "delete")]),
        key="k", sequence_by="seq")  # history now [1, 5), key closed
    for ct in ("delete", "update_postimage"):
        with pytest.raises(ValueError, match="settled history"):
            t.apply_changes_scd2(
                _scd2_changes(spark, [(1, 7, 3, ct)]),
                key="k", sequence_by="seq")
    # AT the closing end is also refused (it would collide with the
    # delete event the end records) …
    with pytest.raises(ValueError, match="settled history"):
        t.apply_changes_scd2(
            _scd2_changes(spark, [(1, 7, 5, "update_postimage")]),
            key="k", sequence_by="seq")
    # … but strictly past it re-opens the key normally
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 7, 6, "update_postimage")]),
        key="k", sequence_by="seq")
    got = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [(7, 6, None), (10, 1, 5)]
    # a tombstone's [s, s) counts as an event at s the same way: the
    # guard refuses at-or-below s, accepts past it
    t2path = tdir + "_tomb"
    t2 = TxLogTable.create(spark, t2path, _scd2_df(spark, []))
    t2.apply_changes_scd2(
        _scd2_changes(spark, [(9, 0, 4, "delete")]),  # -> tombstone [4,4)
        key="k", sequence_by="seq")
    with pytest.raises(ValueError, match="settled history"):
        t2.apply_changes_scd2(
            _scd2_changes(spark, [(9, 1, 4, "update_postimage")]),
            key="k", sequence_by="seq")
    t2.apply_changes_scd2(
        _scd2_changes(spark, [(9, 1, 5, "update_postimage")]),
        key="k", sequence_by="seq")


def test_apply_changes_scd2_closed_history_not_rewritten(spark, tdir):
    """Only segments holding an OPEN row of a batch key are rewritten —
    a batch touching no existing open row (new keys only) carries every
    segment by reference (filesRewritten = 0)."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [(1, 10, 0, None)]))
    t.apply_changes_scd2(
        _scd2_changes(spark, [(5, 50, 1, "insert")]),
        key="k", sequence_by="seq")
    last = t.history()[-1]
    assert last["op"] == "APPLY CHANGES SCD2"
    assert last["filesRewritten"] == 0
    assert sorted((r["k"], r["__END_AT"] is None)
                  for r in t.read().collect()) == [(1, True), (5, True)]


def test_apply_changes_scd2_with_cdf(spark, tdir):
    """CDF composition: closed open-rows serve update_pre/postimages,
    new history rows serve inserts; no delete images (SCD2 never removes
    rows)."""
    t = TxLogTable.create(spark, tdir,
                          _scd2_df(spark, [(1, 10, 0, None)]),
                          enable_cdf=True)
    v = t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 11, 1, "update_postimage"),
                              (2, 20, 1, "insert")]),
        key="k", sequence_by="seq")
    ch = t.read_changes(v, v)
    got = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"],
                   r["_change_type"]) for r in ch.collect()),
                 key=lambda x: (x[0], x[1], x[2], x[3] is None, x[3] or 0,
                                x[4]))
    assert got == [
        (1, 10, 0, 1, "update_postimage"),
        (1, 10, 0, None, "update_preimage"),
        (1, 11, 1, None, "insert"),
        (2, 20, 1, None, "insert"),
    ]


def test_apply_changes_idempotent_replay(spark, tdir):
    """txnAppId/txnVersion on both CDC folds: a replayed micro-batch
    (same app + epoch) is a no-op — for SCD2 the replay would otherwise
    REFUSE on its own frontier, so idempotence is what makes streaming
    CDC restarts safe."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    b0 = spark.createDataFrame([(1, "a", 11, 1, "update_postimage")],
                               "k int, grp string, v int, seq int, "
                               "_change_type string")
    v = t.apply_changes(b0, key="k", sequence_by="seq",
                        txn_app_id="cdc1", txn_version=0)
    assert v == 1
    # replay: no-op, no new version
    v2 = t.apply_changes(b0, key="k", sequence_by="seq",
                         txn_app_id="cdc1", txn_version=0)
    assert v2 == 1 and t.latest_version() == 1
    assert [(r["k"], r["v"]) for r in t.read().collect()] == [(1, 11)]
    with pytest.raises(ValueError, match="go together"):
        t.apply_changes(b0, key="k", sequence_by="seq", txn_app_id="x")

    t2 = TxLogTable.create(spark, tdir + "_scd2",
                           _scd2_df(spark, [(1, 10, 0, None)]))
    sink = t2.cdc_sink("cdc2", "k", "seq", scd_type=2)
    b1 = _scd2_changes(spark, [(1, 11, 1, "update_postimage")])
    sink(b1, 0)
    assert t2.latest_version() == 1
    # replay of epoch 0: no-op (a raw re-apply would refuse on the
    # frontier — seq 1 is no longer past it)
    sink(b1, 0)
    assert t2.latest_version() == 1
    sink(_scd2_changes(spark, [(1, 12, 2, "update_postimage")]), 1)
    got = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t2.read().collect())
    assert got == [(10, 0, 1), (11, 1, 2), (12, 2, None)]
    with pytest.raises(ValueError, match="scd_type"):
        t2.cdc_sink("x", "k", "seq", scd_type=3)


# -- r8 post-battery pins: cross-feature composition -------------------------

def test_overwrite_stream_semantics(spark, tdir):
    """An OVERWRITE commit changes existing rows: the append-only table
    stream must raise on it, and skipChangeCommits must skip it entirely
    (serving its adds would re-emit replaced data as if appended)."""
    from distributed_database_for_sql_spark.sources.txlog_stream import (
        TxLogTableDataSource)

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.insert_overwrite(_df(spark, [(2, "b", 20)]))
    ds = TxLogTableDataSource({"path": t.path})
    reader = ds.simpleStreamReader(ds.schema())
    with pytest.raises(ValueError, match="changes existing rows"):
        list(reader.readBetweenOffsets({"version": 0}, {"version": 2}))
    ds2 = TxLogTableDataSource({"path": t.path,
                                "skipchangecommits": "true"})
    rows = list(ds2.simpleStreamReader(ds2.schema())
                .readBetweenOffsets({"version": 0}, {"version": 2}))
    assert [(r[0], r[-1]) for r in rows] == [(1, 0)], \
        "skipChangeCommits serves the CREATE only, not the overwrite"


def test_copy_into_partitioned_table(spark, tdir, tmp_path):
    """COPY INTO a partitioned table lands Hive-layout segments with
    partitionValues recorded — pruning works on the copied data."""
    land = str(tmp_path / "land")
    spark.createDataFrame([("x", 1, 10), ("y", 2, 20)],
                          "p string, k int, v int") \
        .coalesce(1).write.parquet(land)
    t = TxLogTable.create(
        spark, tdir, spark.createDataFrame([], "p string, k int, v int"),
        partition_by="p")
    _, n = t.copy_into(land)
    assert n == 1
    kept, total = t.prune_files([("p", "=", "x")])
    assert len(kept) < total, "partition pruning on copied segments"
    assert sorted((r["p"], r["k"]) for r in t.read().collect()) == \
        [("x", 1), ("y", 2)]


def test_apply_changes_with_cdf(spark, tdir):
    """apply_changes on a CDF table: the TXN commit's per-statement
    change rows serve the delete and the merge coherently."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]),
                          enable_cdf=True)
    changes = spark.createDataFrame(
        [(1, "a", 99, 1, "update_postimage"), (2, "b", 0, 1, "delete")],
        "k int, grp string, v int, seq int, _change_type string")
    v = t.apply_changes(changes, key="k", sequence_by="seq")
    ch = t.read_changes(v, v)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert (2, 20, "delete") in got
    assert (1, 99, "update_postimage") in got
    assert (1, 10, "update_preimage") in got


def test_insert_overwrite_identity_table(spark, tdir):
    """INSERT OVERWRITE on an IDENTITY table: ids are re-assigned for
    the replacement rows and continue PAST the old high-water mark —
    replaced ids never come back."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)],
                              "grp string, v int"),
        identity_columns={"id": 1})
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]
    t.insert_overwrite(spark.createDataFrame([("z", 9)],
                                             "grp string, v int"))
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["id"] == 4, \
        "fresh id above the burned high-water mark"


# -- r8: type widening (ALTER COLUMN TYPE, metadata-only) --------------------

def test_type_widening_metadata_only(spark, tdir):
    """ALTER COLUMN TYPE rewrites NOTHING: the commit is one JSON file,
    old int32 segments read as BIGINT in place, a later append lands
    values past int range, and time travel to before the ALTER serves
    the narrow type.  Narrowing and non-numeric changes are refused."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    files_before, _ = t._snapshot_files()
    v = t.alter_column_type("v", "bigint")
    assert t.history()[-1]["op"] == "ALTER COLUMN"
    assert t._snapshot_files()[0] == files_before, "no file rewritten"
    assert t.read().schema["v"].dataType.simpleString() == "bigint"
    # old rows served wide, values intact
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 10), (2, 20)]
    # new writes land past int32 range
    t.append(spark.createDataFrame([(3, "c", 2**40)],
                                   "k int, grp string, v bigint"))
    assert t.read().agg(F.sum("v")).collect()[0][0] == 30 + 2**40
    # time travel: narrow type before the ALTER
    assert t.read(version=v - 1).schema["v"].dataType.simpleString() == "int"
    # refusals: narrowing, non-numeric, unknown column
    with pytest.raises(ValueError, match="unsupported type change"):
        t.alter_column_type("v", "int")
    with pytest.raises(ValueError, match="unsupported type change"):
        t.alter_column_type("grp", "int")
    with pytest.raises(ValueError, match="no such column"):
        t.alter_column_type("zz", "bigint")
    # int -> double is also a lossless widening
    t2 = TxLogTable.create(spark, tdir + "_d", _df(spark, [(1, "a", 7)]))
    t2.alter_column_type("v", "double")
    assert t2.read().collect()[0]["v"] == 7.0


def test_type_widening_composes_with_dml_and_skipping(spark, tdir):
    """Widening composes with the rest of the format: copy-on-write
    UPDATE/DELETE over mixed narrow+wide segments, file-stats skipping
    still prunes (footer stats compare numerically across widths), DV
    deletes apply, and a frame still carrying the narrow type upcasts at
    write so new segments land wide."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.alter_column_type("v", "bigint")
    # narrow-typed incoming frame upcasts at write (no int32 regression)
    t.append(spark.createDataFrame([(3, "c", 30)],
                                   "k int, grp string, v int"))
    import glob as _glob
    import pyarrow.parquet as _pq
    newest = max(_glob.glob(tdir + "/data-*/part-*.parquet"),
                 key=lambda p: __import__("os").path.getmtime(p))
    assert _pq.read_schema(newest).field("v").type == "int64"
    # copy-on-write DML over mixed segments
    t.update_where({"v": F.col("v") + 1}, F.col("k") == 1)
    t.delete_where(F.col("k") == 2)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 11), (3, 30)]
    # DV delete on a widened table
    t.delete_where(F.col("k") == 3, use_dv=True)
    assert [r["k"] for r in t.read().collect()] == [1]
    # stats skipping: point probe on the widened column opens a subset
    t3 = TxLogTable.create(
        spark, tdir + "_s",
        spark.range(0, 100).selectExpr("cast(id as int) as k",
                                       "cast(id as int) as v"))
    t3.append(spark.range(1000, 1100).selectExpr("cast(id as int) as k",
                                                 "cast(id as int) as v"))
    t3.alter_column_type("v", "bigint")
    pruned = t3.prune_files([("v", ">=", 1000)])
    assert len(pruned) < len(t3._snapshot_files()[0]), \
        "footer stats still prune across the width change"
    assert t3.read_where([("v", ">=", 1000)]).count() == 100


def test_type_widening_after_rename_and_engine_sql(spark, tmp_path):
    """Widening resolves through column mapping (the requested read
    schema uses PHYSICAL names), and the ALTER TABLE ... ALTER COLUMN
    ... TYPE statement routes through Engine.sql."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(spark, str(tmp_path / "w"),
                          _df(spark, [(1, "a", 10)]))
    t.rename_column("v", "val")
    t.alter_column_type("val", "bigint")
    t.append(spark.createDataFrame([(2, "b", 2**35)],
                                   "k int, grp string, val bigint"))
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == \
        [(1, 10), (2, 2**35)]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    t2 = TxLogTable.create(spark, str(tmp_path / "w2"),
                           _df(spark, [(1, "a", 10)]))
    engine.register_txlog("wt", t2)
    engine.sql("ALTER TABLE wt ALTER COLUMN v TYPE BIGINT")
    assert spark.sql("SELECT * FROM wt").schema["v"].dataType \
        .simpleString() == "bigint"


# -- r8: column DEFAULT values -----------------------------------------------

def test_column_defaults(spark, tdir):
    """SET DEFAULT applies to writes that OMIT the column; existing rows
    and explicit values are untouched; DROP DEFAULT restores NULL
    semantics.  Generated/identity columns refuse defaults."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.add_column("status", "string")
    t.set_column_default("status", "'pending'")
    # rows written before the default stay NULL
    assert t.read().filter(F.col("k") == 1).collect()[0]["status"] is None
    # an append omitting the column materializes the default
    t.append(spark.createDataFrame([(2, "b", 20)],
                                   "k int, grp string, v int"))
    assert t.read().filter(F.col("k") == 2).collect()[0]["status"] \
        == "pending"
    # explicit values win
    t.append(spark.createDataFrame([(3, "c", 30, "done")],
                                   "k int, grp string, v int, status string"))
    assert t.read().filter(F.col("k") == 3).collect()[0]["status"] == "done"
    # DROP DEFAULT: back to NULL for omitting writes
    t.unset_column_default("status")
    t.append(spark.createDataFrame([(4, "d", 40)],
                                   "k int, grp string, v int"))
    assert t.read().filter(F.col("k") == 4).collect()[0]["status"] is None
    # refusals
    with pytest.raises(ValueError, match="no such column"):
        t.set_column_default("zz", "1")
    with pytest.raises(ValueError, match="bad DEFAULT"):
        t.set_column_default("status", "no_such_fn(")
    with pytest.raises(ValueError, match="no DEFAULT"):
        t.unset_column_default("status")
    tg = TxLogTable.create(spark, tdir + "_g",
                           _df(spark, [(1, "a", 10)]),
                           generated_columns={"v2": "v * 2"})
    with pytest.raises(ValueError, match="GENERATED"):
        tg.set_column_default("v2", "1")


def test_column_defaults_copy_into_and_insert_list(spark, tdir, tmp_path):
    """COPY INTO fills a defaulted column the source lacks (instead of
    refusing), and INSERT INTO t (col, …) binds named columns with
    defaults for the rest — including through Engine.sql."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, grp string, src string"))
    t.set_column_default("src", "'landed'")
    land = str(tmp_path / "land")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, grp string") \
        .coalesce(1).write.parquet(land)
    _, n = t.copy_into(land, "parquet")
    assert n == 1 or n == 2  # files loaded (layout-dependent count)
    assert sorted((r["k"], r["src"]) for r in t.read().collect()) == \
        [(1, "landed"), (2, "landed")]
    # a column with NO default still refuses when absent
    t2 = TxLogTable.create(
        spark, tdir + "_n",
        spark.createDataFrame([], "k int, grp string, src string"))
    with pytest.raises(ValueError, match="lacks table column"):
        t2.copy_into(land, "parquet")
    # engine: column-list INSERT
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    engine.register_txlog("dft", t)
    engine.sql("ALTER TABLE dft ALTER COLUMN src SET DEFAULT 'manual'")
    engine.sql("INSERT INTO dft (k, grp) VALUES (9, 'z')")
    assert t.read().filter(F.col("k") == 9).collect()[0]["src"] == "manual"
    engine.sql("INSERT INTO dft (src, k, grp) VALUES ('explicit', 10, 'y')")
    assert t.read().filter(F.col("k") == 10).collect()[0]["src"] \
        == "explicit"
    with pytest.raises(ValueError, match="unknown column"):
        engine.sql("INSERT INTO dft (k, nope) VALUES (1, 2)")
    engine.sql("ALTER TABLE dft ALTER COLUMN src DROP DEFAULT")
    engine.sql("INSERT INTO dft (k, grp) VALUES (11, 'x')")
    assert t.read().filter(F.col("k") == 11).collect()[0]["src"] is None


# -- r8: liquid clustering (CLUSTER BY table metadata) ------------------------

def test_cluster_by_optimize_reclusters(spark, tdir):
    """CLUSTER BY records clustering columns as TABLE METADATA: a plain
    OPTIMIZE (no ZORDER argument) re-clusters on them, so predicates on
    EITHER clustered dimension prune files afterwards — Delta liquid's
    incremental model (writes stay cheap; clustering happens at
    maintenance time)."""
    df = spark.range(0, 4096).selectExpr(
        "cast(id % 64 as int) as x",
        "cast(pmod(cast(id / 64 as int), 64) as int) as y",
        "cast(id as long) as v")
    t = TxLogTable.create(spark, tdir, df.repartition(8),
                          cluster_by=["x", "y"])
    assert t.clustering_columns() == ["x", "y"]
    assert t.detail()["clusteringColumns"] == ["x", "y"]
    # unclustered layout: a point probe on either dim keeps ~all files
    before_x = len(t.prune_files([("x", "between", (0, 7))])[0])
    t.optimize_compact()  # plain OPTIMIZE picks up the clustering columns
    assert t.history()[-1]["op"] == "OPTIMIZE"
    assert t.history()[-1].get("zorderBy") == ["x", "y"]
    total = len(t._snapshot_files()[0])
    kept_x = len(t.prune_files([("x", "between", (0, 7))])[0])
    kept_y = len(t.prune_files([("y", "between", (0, 7))])[0])
    assert kept_x < total and kept_y < total, \
        "post-OPTIMIZE layout prunes on BOTH clustered dimensions"
    assert kept_x <= before_x
    # values survive the re-layout
    assert t.read().agg(F.sum("v")).collect()[0][0] == sum(range(4096))


def test_cluster_by_alter_and_refusals(spark, tdir, tmp_path):
    """ALTER TABLE … CLUSTER BY changes the metadata only (no rewrite);
    CLUSTER BY NONE drops it; unknown and partition columns refuse; the
    commit is transparent to the change feed."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          enable_cdf=True)
    files_before, _ = t._snapshot_files()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    engine = Engine(spark, sf)
    engine.register_txlog("ct", t)
    engine.sql("ALTER TABLE ct CLUSTER BY (k, v)")
    assert t.clustering_columns() == ["k", "v"]
    assert t._snapshot_files()[0] == files_before, "metadata only"
    v = t.latest_version()
    assert t.read_changes(v, v).count() == 0, "no change rows"
    engine.sql("ALTER TABLE ct CLUSTER BY NONE")
    assert t.clustering_columns() == []
    with pytest.raises(ValueError, match="not in schema"):
        t.set_cluster_by(["zz"])
    tp = TxLogTable.create(spark, str(tmp_path / "p"),
                           _df(spark, [(1, "a", 10)]),
                           partition_by="grp")
    with pytest.raises(ValueError, match="partition"):
        tp.set_cluster_by(["grp"])
    with pytest.raises(ValueError, match="partition"):
        TxLogTable.create(spark, str(tmp_path / "q"),
                          _df(spark, [(1, "a", 10)]),
                          partition_by="grp", cluster_by=["grp"])


# -- r8: full-clause MERGE (matched AND/DELETE, not-matched-by-source) -------

def test_merge_full_three_arms(spark, tdir):
    """All three MERGE arms in one statement, first-matching-clause-wins:
    a conditional matched UPDATE, a fallthrough matched DELETE, a
    conditional NOT MATCHED INSERT, and a conditional NOT MATCHED BY
    SOURCE DELETE — plus the copy-on-write guarantee that a segment with
    no changed row is carried by reference, and CDF images per arm."""
    base = _df(spark, [(1, "a", 10), (2, "b", 20),
                       (3, "c", 30), (4, "d", 40)])
    t = TxLogTable.create(spark, tdir, base.repartition(4, "k"),
                          enable_cdf=True)
    src = _df(spark, [(2, "B", 200), (3, "C", 5),
                      (5, "E", 50), (6, "F", 60)])
    v = t.merge_full(
        src, "k",
        when_matched=[
            {"action": "update", "condition": "s.v > t.v",
             "set": {"v": "s.v + 1", "grp": "s.grp"}},
            {"action": "delete"},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.k <= 5", "values": "*"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.k = 1"}])
    got = sorted(tuple(r) for r in t.read().collect())
    # k=1 by-source-deleted; k=2 matched+updated (s.v>t.v); k=3 matched,
    # first clause fails → DELETE; k=4 untouched; k=5 inserted; k=6 not
    # (insert condition)
    assert got == [(2, "B", 201), (4, "d", 40), (5, "E", 50)]
    ch = {r["_change_type"]: r["n"]
          for r in t.read_changes(v, v).groupBy("_change_type")
          .agg(F.count("*").alias("n")).collect()}
    assert ch == {"delete": 2, "insert": 1,
                  "update_preimage": 1, "update_postimage": 1}
    # time travel: pre-merge snapshot intact
    assert sorted(r["k"] for r in t.read(version=v - 1).collect()) == \
        [1, 2, 3, 4]


def test_merge_full_untouched_segment_carried(spark, tdir):
    """A segment none of whose rows hits ANY clause survives by
    reference (matched rows whose conditions all fail do NOT touch
    their file)."""
    lo = _df(spark, [(1, "a", 10), (2, "a", 20)]).coalesce(1)
    hi = _df(spark, [(100, "z", 1000)]).coalesce(1)
    t = TxLogTable.create(spark, tdir, lo)
    t.append(hi)
    files_before = set(t._snapshot_files()[0])
    # source matches k=100 but the condition is false there; k=1 updates
    src = _df(spark, [(1, "a", 99), (100, "z", 1)])
    t.merge_full(src, "k", when_matched=[
        {"action": "update", "condition": "s.v > t.v", "set": "*"}])
    files_after = set(t._snapshot_files()[0])
    hi_files = {f for f in files_before if f in files_after}
    assert hi_files, "the hi segment (condition-false match) carried over"
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "a", 99), (2, "a", 20), (100, "z", 1000)]


def test_merge_full_sql_route_and_ordering(spark, tmp_path):
    """Engine SQL: full grammar parses, aliases rebind onto t/s, clause
    ORDER is honored (first match wins), column-list INSERT leaves
    omitted columns NULL, and a no-op merge returns the same version."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, str(tmp_path / "t"),
                          _df(spark, [(1, "a", 10), (2, "b", 20),
                                      (4, "d", 40)]))
    eng.register_txlog("tgt", t)
    _df(spark, [(2, "B", 200), (6, "F", 60)]) \
        .createOrReplaceTempView("src")
    eng.sql("""
        MERGE INTO tgt AS x USING src AS y ON x.k = y.k
        WHEN MATCHED AND y.v > x.v THEN UPDATE SET v = y.v + 1,
                                                   grp = upper(y.grp)
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND y.k = 6
            THEN INSERT (k, v) VALUES (y.k, y.v * 2)
        WHEN NOT MATCHED BY SOURCE AND x.k = 1 THEN DELETE
    """)
    got = sorted((r["k"], r["grp"], r["v"]) for r in t.read().collect())
    assert got == [(2, "B", 201), (4, "d", 40), (6, None, 120)]
    # clause order matters: DELETE-first would have removed k=2
    t2 = TxLogTable.create(spark, str(tmp_path / "t2"),
                           _df(spark, [(2, "b", 20)]))
    eng.register_txlog("tgt2", t2)
    eng.sql("""
        MERGE INTO tgt2 USING src ON tgt2.k = src.k
        WHEN MATCHED THEN DELETE
        WHEN MATCHED AND src.v > tgt2.v THEN UPDATE SET *
    """)
    assert t2.read().count() == 0, "first clause (DELETE) wins"
    # no clause applies anywhere -> no new commit
    v0 = t.latest_version()
    t.merge_full(_df(spark, [(999, "q", 1)]), "k", when_matched=[
        {"action": "delete"}])
    assert t.latest_version() == v0


def test_merge_full_refusals(spark, tdir):
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    src = _df(spark, [(1, "a", 5)])
    with pytest.raises(ValueError, match="at least one WHEN"):
        t.merge_full(src, "k")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_full(_df(spark, [(1, "a", 5), (1, "b", 6)]), "k",
                     when_matched=[{"action": "delete"}])
    with pytest.raises(ValueError, match="unknown column"):
        t.merge_full(src, "k", when_matched=[
            {"action": "update", "set": {"nope": "1"}}])
    with pytest.raises(ValueError, match="unknown column"):
        t.merge_full(src, "k", when_not_matched=[
            {"action": "insert", "values": {"nope": "1"}}])
    with pytest.raises(ValueError, match="lacks key"):
        t.merge_full(src.select("grp", "v"), "k",
                     when_matched=[{"action": "delete"}])
    ti = TxLogTable.create(
        spark, tdir + "_i",
        spark.createDataFrame([("a", 1)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "step": 1}})
    with pytest.raises(ValueError, match="IDENTITY"):
        ti.merge_full(spark.createDataFrame([("a", 1)],
                                            "grp string, v int"),
                      "grp", when_matched=[{"action": "delete"}])


# -- r9: ADVICE fixes ---------------------------------------------------------

def test_insert_overwrite_multicolumn_partition_scope_guard(spark, tdir):
    """ADVICE r8 (medium): with a MULTI-column partitions dict, a row
    mismatching only SOME partition columns (a=1,b=99 vs {a:1,b:2}) is
    out of scope and must refuse — the old chained-filter guard ANDed
    the negations and only caught rows mismatching EVERY column."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 2, 10), (1, 3, 20), (9, 9, 30)],
                              "a int, b int, v int"),
        partition_by=["a", "b"])
    # a matches, b does not: must refuse (the old bug let this through,
    # silently widening the overwrite)
    with pytest.raises(ValueError, match="outside the replaced"):
        t.insert_overwrite(
            spark.createDataFrame([(1, 99, 0)], "a int, b int, v int"),
            partitions={"a": 1, "b": 2})
    # fully in-scope rows still work and replace exactly that partition
    t.insert_overwrite(
        spark.createDataFrame([(1, 2, 99)], "a int, b int, v int"),
        partitions={"a": 1, "b": 2})
    got = sorted((r["a"], r["b"], r["v"]) for r in t.read().collect())
    assert got == [(1, 2, 99), (1, 3, 20), (9, 9, 30)]


def test_merge_full_sql_case_variant_alias_rebind(spark, tmp_path):
    """ADVICE r8 (medium): the alias regex matches case-insensitively,
    so `TGT.v` for alias `tgt` must rebind to the TARGET side — the old
    case-sensitive membership test silently rewrote it to `s.` and read
    source values where target values were meant."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, str(tmp_path / "t"),
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    eng.register_txlog("cvt", t)
    _df(spark, [(1, "A", 100), (2, "B", 5)]) \
        .createOrReplaceTempView("cvs")
    # condition + SET use case variants of both aliases; correct
    # binding updates ONLY k=1 (src.v > TGT.v there) to TGT.v + SRC.v
    eng.sql("""
        MERGE INTO cvt AS tgt USING cvs AS src ON tgt.k = src.k
        WHEN MATCHED AND SRC.v > TGT.v THEN UPDATE SET v = Tgt.v + sRc.v
    """)
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 110), (2, 20)]


def test_enable_row_tracking_conflicts_with_concurrent_remove(spark, tdir):
    """ADVICE r8 (low): enable_row_tracking re-lists every active file;
    a concurrent OPTIMIZE/DELETE landing between its snapshot and its
    claim must raise an OCC conflict — silently re-adding the removed
    segments would resurrect deleted/compacted rows."""
    t = TxLogTable.create(spark, tdir,
                          _df(spark, [(1, "a", 10)]).coalesce(1))
    t.append(_df(spark, [(2, "b", 20)]).coalesce(1))
    files, _ = t._snapshot_files()
    seg = os.path.relpath(files[0], t.path)
    orig_snapshot, raced = t._snapshot, {"done": False}

    def snapshot_then_race(*a, **kw):
        res = orig_snapshot(*a, **kw)
        if not raced["done"]:
            raced["done"] = True
            assert t._try_commit(
                t.latest_version() + 1,
                [{"commit": {"op": "DELETE", "ts": t._next_ts()}},
                 {"remove": {"path": seg}}])
        return res

    t._snapshot = snapshot_then_race
    try:
        with pytest.raises(RuntimeError, match="concurrent commit conflict"):
            t.enable_row_tracking()
    finally:
        t._snapshot = orig_snapshot
    # a clean re-run against the fresh snapshot succeeds
    t.enable_row_tracking()
    assert sorted(r["k"] for r in t.read().collect()) == [2]
    assert t.read_with_row_ids().count() == 1


def test_show_partitions_tolerates_missing_partition_stats(spark, tdir):
    """ADVICE r8 (low): one active file with missing partitionValues
    yields a None-bearing tuple; sorted() over mixed None/str raises
    TypeError — such files must be dropped BEFORE the sort."""
    from distributed_database_for_sql_spark.engine import Engine

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("x", 1), ("y", 2)], "p string, v int"),
        partition_by="p")
    # inject a REAL segment whose add action carries no stats (and so
    # no partitionValues)
    files, _ = t._snapshot_files()
    hive_dir = os.path.dirname(os.path.relpath(files[0], t.path))
    seg_dir = os.path.join(t.path, hive_dir)
    spark.createDataFrame([(9,)], "v int") \
        .coalesce(1).write.mode("append").parquet(seg_dir)
    part = sorted(
        f for f in os.listdir(seg_dir) if f.endswith(".parquet")
        and os.path.join(hive_dir, f) not in
        {os.path.relpath(p, t.path) for p in files})[0]
    assert t._try_commit(
        t.latest_version() + 1,
        [{"commit": {"op": "APPEND", "ts": t._next_ts()}},
         {"add": {"path": os.path.join(hive_dir, part), "stats": None}}])
    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    eng.register_txlog("sp9", t)
    rows = eng.sql("SHOW PARTITIONS sp9").collect()
    assert sorted(r["p"] for r in rows) == ["x", "y"]


def test_copy_into_respects_explicit_header_false(spark, tdir, tmp_path):
    """ADVICE r8 (low): COPY INTO defaulted header=true AFTER applying
    user options, eating the first data row of headerless CSVs; an
    explicit header=false must win (the default stays true)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, grp string, v int"))
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text("1,a,10\n2,b,20\n")
    t.copy_into(str(land), "csv",
                options={"header": "false",
                         "inferSchema": "true"})
    got = sorted((r["k"], r["grp"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20)]
    # default path still treats the first line as a header
    t2 = TxLogTable.create(
        spark, tdir + "_h",
        spark.createDataFrame([], "k int, grp string, v int"))
    land2 = tmp_path / "land2"
    land2.mkdir()
    (land2 / "a.csv").write_text("k,grp,v\n1,a,10\n")
    t2.copy_into(str(land2), "csv", options={"inferSchema": "true"})
    assert [(r["k"], r["grp"], r["v"]) for r in t2.read().collect()] == \
        [(1, "a", 10)]


# -- r9: MERGE schema evolution + identity composition ------------------------

def test_merge_full_schema_evolution(spark, tdir):
    """WITH SCHEMA EVOLUTION: source columns absent from the target
    evolve the schema in the SAME commit (appended nullable) — updated
    and inserted rows materialize values, pre-evolution rows and
    untouched segments read typed NULL, and time travel to before the
    merge lacks the column entirely."""
    t = TxLogTable.create(
        spark, tdir,
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
        .repartition(3, "k"))
    src = spark.createDataFrame([(2, "B", 200, "hot"), (9, "i", 90, "new")],
                                "k int, grp string, v int, note string")
    v = t.merge_full(
        src, "k",
        when_matched=[{"action": "update", "set": "*"}],
        when_not_matched=[{"action": "insert", "values": "*"}],
        schema_evolution=True)
    got = {r["k"]: (r["v"], r["note"]) for r in t.read().collect()}
    assert got == {1: (10, None), 2: (200, "hot"),
                   3: (30, None), 9: (90, "new")}
    assert "note" in [f.name for f in t.read().schema.fields]
    # time travel: the pre-merge snapshot has no such column
    assert "note" not in t.read(version=v - 1).columns
    # explicit SET may bind the evolved column too
    t.merge_full(spark.createDataFrame([(1, "x")], "k int, note string"),
                 "k",
                 when_matched=[{"action": "update",
                                "set": {"note": "s.note"}}],
                 schema_evolution=False)
    got = {r["k"]: r["note"] for r in t.read().collect()}
    assert got[1] == "x" and got[3] is None


def test_merge_full_without_evolution_ignores_extra_columns(spark, tdir):
    """Default posture (no evolution): extra source columns are ignored
    on star actions, and explicit SET/VALUES of an unknown column still
    raises — the schema never changes implicitly."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    src = spark.createDataFrame([(1, "A", 11, "zz"), (2, "b", 22, "yy")],
                                "k int, grp string, v int, note string")
    t.merge_full(src, "k",
                 when_matched=[{"action": "update", "set": "*"}],
                 when_not_matched=[{"action": "insert", "values": "*"}])
    assert "note" not in t.read().columns
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 11, 2: 22}
    with pytest.raises(ValueError, match="unknown column"):
        t.merge_full(src, "k", when_matched=[
            {"action": "update", "set": {"note": "s.note"}}])


def test_merge_evolution_respects_mapping_guards(spark, tdir):
    """The evolution path reuses append's guards: in name mapping mode a
    column whose name is retired (DROPped) or in use as a renamed
    column's physical name refuses loudly instead of corrupting reads."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]),
                          column_mapping_mode="name")
    t.rename_column("grp", "label")
    # "grp" is the physical name behind "label": evolving it back in
    # would alias two logical columns onto one physical name
    src = spark.createDataFrame([(2, "b", 20, "x")],
                                "k int, label string, v int, grp string")
    with pytest.raises(ValueError, match="PHYSICAL name"):
        t.merge_full(src, "k",
                     when_not_matched=[{"action": "insert", "values": "*"}],
                     schema_evolution=True)
    t.drop_column("label")
    # dropping "label" retires its PHYSICAL name "grp"; evolving a new
    # "grp" back in would resurrect the dropped column's stale data
    src2 = spark.createDataFrame([(2, "x", 20)],
                                 "k int, grp string, v int")
    with pytest.raises(ValueError, match="re-introduce"):
        t.merge_full(src2, "k",
                     when_not_matched=[{"action": "insert", "values": "*"}],
                     schema_evolution=True)


def test_merge_full_by_default_identity(spark, tdir):
    """Full-clause MERGE composes with GENERATED BY DEFAULT identity:
    insert-arm rows with absent/NULL id slots are engine-assigned past
    the high-water mark, SET * keeps the matched target row's id, SET of
    an identity column refuses, and GENERATED ALWAYS still refuses."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10), ("b", 20)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "step": 1,
                                 "always": False}})
    ids0 = {r["grp"]: r["id"] for r in t.read().collect()}
    assert sorted(ids0.values()) == [1, 2]
    # source omits the id column entirely: update keeps ids, insert
    # assigns fresh ones past the high-water mark
    src = spark.createDataFrame([("a", 100), ("c", 30), ("d", 40)],
                                "grp string, v int")
    t.merge_full(src, "grp",
                 when_matched=[{"action": "update", "set": "*"}],
                 when_not_matched=[{"action": "insert", "values": "*"}])
    rows = {r["grp"]: (r["id"], r["v"]) for r in t.read().collect()}
    assert rows["a"] == (ids0["a"], 100), "SET * keeps the target id"
    assert rows["b"] == (ids0["b"], 20)
    new_ids = sorted(rows[g][0] for g in ("c", "d"))
    assert new_ids == [3, 4], "insert-arm ids continue past high water"
    assert len({i for i, _ in rows.values()}) == 4, "ids stay unique"
    # explicit NULL slots in a carried id column engine-assign too
    src2 = spark.createDataFrame([(None, "e", 50), (99, "f", 60)],
                                 "id long, grp string, v int")
    t.merge_full(src2, "grp",
                 when_not_matched=[{"action": "insert", "values": "*"}])
    rows = {r["grp"]: r["id"] for r in t.read().collect()}
    assert rows["f"] == 99 and rows["e"] == 5
    # a later engine assignment never collides with the explicit 99
    t.merge_full(spark.createDataFrame([("g", 70)], "grp string, v int"),
                 "grp",
                 when_not_matched=[{"action": "insert", "values": "*"}])
    rows = {r["grp"]: r["id"] for r in t.read().collect()}
    assert rows["g"] == 100 and len(set(rows.values())) == 7
    # SET of the identity column refuses
    with pytest.raises(ValueError, match="identity column"):
        t.merge_full(src, "grp", when_matched=[
            {"action": "update", "set": {"id": "1"}}])
    # GENERATED ALWAYS refuses the statement outright
    ta = TxLogTable.create(
        spark, tdir + "_a",
        spark.createDataFrame([("a", 1)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "step": 1}})
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        ta.merge_full(src, "grp",
                      when_matched=[{"action": "delete"}])


def test_merge_with_schema_evolution_sql_route(spark, tmp_path):
    """Engine SQL: MERGE WITH SCHEMA EVOLUTION INTO … parses and routes
    schema_evolution=True; without the clause the grammar keeps the
    strict posture."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, str(tmp_path / "t"),
                          _df(spark, [(1, "a", 10), (2, "b", 20)]))
    eng.register_txlog("evt", t)
    spark.createDataFrame([(2, "B", 22, 7), (3, "c", 33, 8)],
                          "k int, grp string, v int, score int") \
        .createOrReplaceTempView("evs")
    eng.sql("""
        MERGE WITH SCHEMA EVOLUTION INTO evt AS t USING evs AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: (10, None), 2: (22, 7), 3: (33, 8)}


# -- r9: SCD2 sequenced backfill ----------------------------------------------

def test_scd2_backfill_splices_history(spark, tdir):
    """allow_backfill=True accepts a below-frontier batch and SPLICES it:
    the affected key's chain re-folds as if every event had arrived in
    sequence order — existing bounds move, the spliced row lands between
    its neighbors, other keys carry untouched; the immutability default
    is unchanged (same batch refuses without the flag)."""
    t = TxLogTable.create(spark, tdir, _scd2_df(
        spark, [(1, 10, 0, None), (2, 20, 0, None)]))
    # build history: key 1 at seq 0 -> 4; key 2 untouched
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 14, 4, "update_postimage")]),
        key="k", sequence_by="seq")
    # late event at seq 2 (below the frontier 4): default refuses ...
    late = _scd2_changes(spark, [(1, 12, 2, "update_postimage")])
    with pytest.raises(ValueError, match="settled history"):
        t.apply_changes_scd2(late, key="k", sequence_by="seq")
    # ... backfill splices
    v = t.apply_changes_scd2(late, key="k", sequence_by="seq",
                             allow_backfill=True)
    assert t.history()[-1]["op"] == "APPLY CHANGES SCD2 BACKFILL"
    got = sorted((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [
        (1, 10, 0, 2), (1, 12, 2, 4), (1, 14, 4, None),
        (2, 20, 0, None),
    ]
    # time travel: pre-splice chain intact
    pre = sorted((r["k"], r["v"], r["__END_AT"])
                 for r in t.read(version=v - 1).collect())
    assert pre == [(1, 10, 4), (1, 14, None), (2, 20, None)]


def test_scd2_backfill_preserves_deletes_and_reopens(spark, tdir):
    """The timeline reconstruction keeps delete events: a chain closed by
    a delete (end with no successor start) stays closed through the
    splice, and a backfilled event BEFORE the delete ends at the delete's
    sequence rather than re-opening the key."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, []))
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 10, 0, "insert"),
                              (1, 0, 5, "delete"),
                              (1, 17, 7, "insert")]),
        key="k", sequence_by="seq")
    base = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect())
    assert base == [(10, 0, 5), (17, 7, None)]
    # splice at seq 3: must end at the DELETE (5), not at 7
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 13, 3, "update_postimage")]),
        key="k", sequence_by="seq", allow_backfill=True)
    got = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [(10, 0, 3), (13, 3, 5), (17, 7, None)]
    # a backfilled DELETE splices too: close (7, 9) then nothing re-opens
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 0, 9, "delete")]),
        key="k", sequence_by="seq", allow_backfill=True)
    got = sorted((r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t.read().collect())
    assert got == [(10, 0, 3), (13, 3, 5), (17, 7, 9)]


def test_scd2_backfill_refusals_and_cow_scope(spark, tdir):
    """A backfill sequence colliding with an existing event refuses
    (splicing is ambiguous); keys NOT in the batch never rewrite (their
    segments carry by reference); CDF emits exact splice images."""
    lo = _scd2_df(spark, [(1, 10, 0, None)]).coalesce(1)
    hi = _scd2_df(spark, [(9, 90, 0, None)]).coalesce(1)
    t = TxLogTable.create(spark, tdir, lo, enable_cdf=True)
    t.append(hi)
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 14, 4, "update_postimage")]),
        key="k", sequence_by="seq")
    with pytest.raises(ValueError, match="collides"):
        t.apply_changes_scd2(
            _scd2_changes(spark, [(1, 99, 4, "update_postimage")]),
            key="k", sequence_by="seq", allow_backfill=True)
    files_before = set(t._snapshot_files()[0])
    v = t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 12, 2, "update_postimage")]),
        key="k", sequence_by="seq", allow_backfill=True)
    files_after = set(t._snapshot_files()[0])
    assert files_before & files_after, \
        "the k=9 segment (untouched key) must carry by reference"
    ch = sorted((r["_change_type"], r["v"], r["__START_AT"])
                for r in t.read_changes(v, v).collect())
    # splice diffs: row (10,[0,4)) end moves to 2 (update pre+post),
    # the spliced (12,[2,4)) row is an insert
    assert ch == [("insert", 12, 2),
                  ("update_postimage", 10, 0),
                  ("update_preimage", 10, 0)]


def test_scd2_backfill_row_tracking_ids_survive(spark, tdir):
    """Row tracking × backfill: existing history rows keep their row ids
    through the re-fold (even the row whose end bound moves); only the
    spliced row reads a fresh id."""
    t = TxLogTable.create(spark, tdir, _scd2_df(
        spark, [(1, 10, 0, None), (2, 20, 0, None)]),
        row_tracking=True)
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 14, 4, "update_postimage")]),
        key="k", sequence_by="seq")
    ids0 = {(r["k"], r["v"]): r["_row_id"]
            for r in t.read_with_row_ids().collect()}
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 12, 2, "update_postimage")]),
        key="k", sequence_by="seq", allow_backfill=True)
    ids1 = {(r["k"], r["v"]): r["_row_id"]
            for r in t.read_with_row_ids().collect()}
    for kv in ids0:
        assert ids1[kv] == ids0[kv], f"row id changed for {kv}"
    assert ids1[(1, 12)] not in set(ids0.values()), \
        "the spliced row must read a fresh id"
    assert len(set(ids1.values())) == len(ids1)


def test_scd2_traceless_delete_leaves_tombstone(spark, tdir):
    """A delete that closes NOTHING (unknown key, or preceded by another
    delete) persists as a zero-width tombstone row [seq, seq) — NULL
    payload, start == end — so the timeline stays losslessly
    re-foldable.  Tombstones are INTERNAL (r11 ADVICE): the public
    read()/SQL projection and the change feed hide them (Delta/DLT
    materializes no such rows — COUNT(*) must not see phantoms); the
    splice reads them back via the internal active read."""
    t = TxLogTable.create(spark, tdir, _scd2_df(
        spark, [(1, 10, 0, None)]), enable_cdf=True)
    v = t.apply_changes_scd2(
        _scd2_changes(spark, [(7, 0, 3, "delete"),      # unknown key
                              (1, 0, 4, "delete"),      # closes open row
                              (1, 0, 6, "delete")]),    # double delete
        key="k", sequence_by="seq")
    # the INTERNAL active read keeps the full trace
    trace = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                    for r in t._read_active().collect()),
                   key=lambda x: (x[0], x[2]))
    assert trace == [(1, 10, 0, 4),    # closed by the real delete
                     (1, None, 6, 6),  # double delete -> tombstone
                     (7, None, 3, 3)]  # unknown key -> tombstone
    # the PUBLIC read hides the markers: only real row versions
    got = [(r["k"], r["v"], r["__START_AT"], r["__END_AT"])
           for r in t.read().collect()]
    assert got == [(1, 10, 0, 4)]
    # … and the change feed emitted no phantom inserts for them
    ins = [(r["k"], r["__START_AT"], r["__END_AT"])
           for r in t.read_changes(v, v).collect()
           if r["_change_type"] == "insert"]
    assert ins == []
    # zero-width rows never satisfy an as-of predicate (even internally)
    asof = t._read_active().filter((F.col("__START_AT") <= 3)
                                   & ((F.col("__END_AT") > 3)
                                      | F.col("__END_AT").isNull()))
    assert [(r["k"], r["v"]) for r in asof.collect()] == [(1, 10)]


def test_scd2_backfill_traceless_delete_not_lost(spark, tdir):
    """Pinned r9 falsifying example (hypothesis found it): an on-time
    delete for a key with NO open row left no history trace, so a later
    backfill re-folding the key's timeline silently dropped it and
    re-opened the chain.  With tombstones the splice equals the in-order
    fold: seed key 0; on-time {(0,upd,1), (1,delete,2)}; backfill
    {(1,upd,1)} — key 1 must end CLOSED at 2, not open."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [(0, 5, 0, None)]))
    t.apply_changes_scd2(
        _scd2_changes(spark, [(0, 6, 1, "update_postimage"),
                              (1, 0, 2, "delete")]),
        key="k", sequence_by="seq")
    # the trace the r9 splice lost: key 1's delete, as a tombstone
    # (internal — the public read hides zero-width markers)
    mid = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t._read_active().collect()),
                 key=lambda x: (x[0], x[2]))
    assert (1, None, 2, 2) in mid
    assert (1, None, 2, 2) not in {
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in t.read().collect()}
    t.apply_changes_scd2(
        _scd2_changes(spark, [(1, 7, 1, "update_postimage")]),
        key="k", sequence_by="seq", allow_backfill=True)
    got = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()),
                 key=lambda x: (x[0], x[2]))
    # in-order fold: up(1)@1 opens key 1, delete@2 closes it -> [1, 2);
    # the tombstone is CONSUMED by the splice (the delete now closes a
    # real row, so it no longer needs a marker)
    assert got == [(0, 5, 0, 1), (0, 6, 1, None), (1, 7, 1, 2)]


def test_scd2_backfill_by_default_identity_composes(spark, tdir):
    """r10: the splice's wholesale identity refusal narrowed to
    GENERATED ALWAYS (refused at apply_changes_scd2 entry like every
    whole-row path).  BY DEFAULT composes: re-folded existing rows keep
    their identity values (payload through the reconstruction); a
    spliced batch row with a NULL slot is engine-assigned past the
    high-water mark (never colliding with an existing id)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "rid int, k int, v int, "
                              "__START_AT int, __END_AT int"),
        identity_columns={"rid": {"start": 100, "step": 1,
                                  "always": False}})
    t.apply_changes_scd2(
        spark.createDataFrame(
            [(None, 1, 10, 10, "insert"), (None, 1, 30, 30, "insert")],
            "rid int, k int, v int, seq int, _change_type string"),
        key="k", sequence_by="seq")
    ids0 = {(r["v"], r["__START_AT"]): r["rid"]
            for r in t.read().collect()}
    assert sorted(ids0.values()) == [100, 101]
    # splice seq 20 between them (NULL slot -> engine-assigned)
    t.apply_changes_scd2(
        spark.createDataFrame(
            [(None, 1, 20, 20, "insert")],
            "rid int, k int, v int, seq int, _change_type string"),
        key="k", sequence_by="seq", allow_backfill=True)
    got = {(r["v"], r["__START_AT"], r["__END_AT"]): r["rid"]
           for r in t.read().collect()}
    assert got[(10, 10, 20)] == ids0[(10, 10)], \
        "re-folded row lost its identity value"
    assert got[(30, 30, None)] == ids0[(30, 30)]
    new_id = got[(20, 20, 30)]
    assert new_id not in ids0.values() and new_id >= 102, \
        f"spliced row id {new_id} must be fresh past the high-water"


# -- r9: DV density-triggered auto-REORG --------------------------------------

def test_auto_reorg_on_dv_density(spark, tdir):
    """txlog.autoReorg.maxDeletedRowsRatio: a DV commit that pushes a
    file's tombstone fraction past the threshold triggers exactly ONE
    REORG commit purging exactly THAT file's DVs — files below the
    threshold keep theirs, reads stay correct, streams see no row ops."""
    lo = _df(spark, [(i, "a", i * 10) for i in range(1, 11)]).coalesce(1)
    hi = _df(spark, [(i, "b", i * 10) for i in range(100, 110)]).coalesce(1)
    t = TxLogTable.create(spark, tdir, lo)
    t.append(hi)
    t.set_properties({"txlog.autoReorg.maxDeletedRowsRatio": "0.3"})
    # below threshold everywhere: 1/10 of the lo file — no REORG
    t.delete_where(F.col("k") == 1, use_dv=True)
    ops = [h["op"] for h in t.history()]
    assert "REORG" not in ops
    assert t.read().count() == 19
    # cross the threshold on the lo file only (4/10 total tombstoned);
    # hi file gets 1/10 — stays merge-on-read
    t.delete_where(F.col("k").isin(2, 3, 4) | (F.col("k") == 100),
                   use_dv=True)
    hist = t.history()
    assert [h["op"] for h in hist].count("REORG") == 1
    assert hist[-1]["op"] == "REORG" and hist[-1]["filesRewritten"] == 1
    _, _, dvs = t._snapshot_full()
    assert len(dvs) == 1, "the hi file keeps its low-density DV"
    assert sorted(r["k"] for r in t.read().collect()) == \
        list(range(5, 11)) + list(range(101, 110))
    # a DV UPDATE crossing the hi file's threshold purges it too
    t.update_where({"v": "v + 1"},
                   F.col("k").isin(101, 102, 103), use_dv=True)
    _, _, dvs = t._snapshot_full()
    assert not dvs, "auto-REORG drained the hi file's DVs"
    assert sorted(r["k"] for r in t.read().collect()) == \
        list(range(5, 11)) + list(range(101, 110))
    # without the property: DVs accumulate (default behavior unchanged)
    t2 = TxLogTable.create(spark, tdir + "_off",
                           _df(spark, [(1, "a", 1), (2, "b", 2)]))
    t2.delete_where(F.col("k") == 1, use_dv=True)
    assert "REORG" not in [h["op"] for h in t2.history()]
    _, _, dvs2 = t2._snapshot_full()
    assert dvs2


# -- r9: composite merge / CDC keys -------------------------------------------

def test_merge_upsert_composite_key(spark, tdir):
    """merge_upsert on a list of key columns: rows matching on ALL key
    columns update, others insert; two rows sharing only one key column
    are distinct keys; duplicate-composite sources refuse; the commit
    records per-column keyRanges for OCC."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (1, 2, 20), (2, 1, 30)],
                              "a int, b int, v int"))
    t.merge_upsert(
        spark.createDataFrame([(1, 2, 99), (2, 2, 40)],
                              "a int, b int, v int"), ["a", "b"])
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, 1, 10), (1, 2, 99), (2, 1, 30), (2, 2, 40)]
    last = t.history()[-1]
    assert [r["column"] for r in last["keyRanges"]] == ["a", "b"]
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(
            spark.createDataFrame([(1, 1, 5), (1, 1, 6)],
                                  "a int, b int, v int"), ["a", "b"])
    with pytest.raises(ValueError, match="lacks key"):
        t.merge_upsert(
            spark.createDataFrame([(1, 5)], "a int, v int"), ["a", "b"])


def test_txn_composite_key_merge_commits_merged_key_ranges(spark, tdir):
    """A composite-key merge_upsert staged inside a transaction commits:
    the TXN commit records one merged keyRanges entry per key column,
    spanning every staged statement."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (1, 2, 20), (2, 1, 30)],
                              "a int, b int, v int"))
    t.begin_transaction()
    t.merge_upsert(
        spark.createDataFrame([(1, 2, 99), (2, 5, 40)],
                              "a int, b int, v int"), ["a", "b"])
    t.merge_upsert(
        spark.createDataFrame([(4, 0, 7)], "a int, b int, v int"),
        ["a", "b"])
    t.commit_transaction()
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, 1, 10), (1, 2, 99), (2, 1, 30), (2, 5, 40), (4, 0, 7)]
    last = t.history()[-1]
    assert last["op"] == "TXN" and last["statements"] == 2
    assert last["keyRanges"] == [{"column": "a", "min": 1, "max": 4},
                                 {"column": "b", "min": 0, "max": 5}]


def test_merge_full_composite_key(spark, tdir):
    """Full-clause MERGE on a composite key: matched/not-matched/by-
    source arms all resolve on the (a, b) pair."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (1, 2, 20), (2, 1, 30)],
                              "a int, b int, v int"))
    src = spark.createDataFrame([(1, 2, 200), (3, 1, 50)],
                                "a int, b int, v int")
    t.merge_full(
        src, ["a", "b"],
        when_matched=[{"action": "update", "condition": "s.v > t.v",
                       "set": {"v": "s.v"}}],
        when_not_matched=[{"action": "insert", "values": "*"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.a = 2"}])
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, 1, 10), (1, 2, 200), (3, 1, 50)]


def test_apply_changes_composite_key(spark, tdir):
    """Both CDC folds on composite keys: SCD1 highest-sequence-wins per
    (a, b); SCD2 chains + backfill splice per (a, b)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 1, 10), (1, 2, 20)],
                              "a int, b int, v int"))
    t.apply_changes(
        spark.createDataFrame(
            [(1, 1, 11, 2, "update_postimage"),
             (1, 1, 99, 1, "update_postimage"),   # stale, loses
             (1, 2, 0, 1, "delete"),
             (2, 2, 40, 1, "insert")],
            "a int, b int, v int, seq int, _change_type string"),
        key=["a", "b"], sequence_by="seq")
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, 1, 11), (2, 2, 40)]
    # SCD2 with a composite key, including a backfill splice
    t2 = TxLogTable.create(
        spark, tdir + "_s2",
        spark.createDataFrame(
            [(1, 1, 10, 0, None), (1, 2, 20, 0, None)],
            "a int, b int, v int, __START_AT int, __END_AT int"))
    sch = "a int, b int, v int, seq int, _change_type string"
    t2.apply_changes_scd2(
        spark.createDataFrame([(1, 1, 14, 4, "update_postimage")], sch),
        key=["a", "b"], sequence_by="seq")
    t2.apply_changes_scd2(
        spark.createDataFrame([(1, 1, 12, 2, "update_postimage")], sch),
        key=["a", "b"], sequence_by="seq", allow_backfill=True)
    got = sorted((r["a"], r["b"], r["v"], r["__START_AT"], r["__END_AT"])
                 for r in t2.read().collect())
    assert got == [(1, 1, 10, 0, 2), (1, 1, 12, 2, 4),
                   (1, 1, 14, 4, None), (1, 2, 20, 0, None)]


def test_merge_composite_key_sql_route(spark, tmp_path):
    """Both MERGE grammars accept AND-joined ON equalities and route the
    ordered composite key list; mixed-term clauses still refuse."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, 1, 10), (1, 2, 20)],
                              "a int, b int, v int"))
    eng.register_txlog("ck", t)
    spark.createDataFrame([(1, 2, 99), (3, 3, 30)], "a int, b int, v int") \
        .createOrReplaceTempView("cks")
    eng.sql("MERGE INTO ck AS t USING cks AS s "
            "ON t.a = s.a AND t.b = s.b "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, 1, 10), (1, 2, 99), (3, 3, 30)]
    # full grammar with a clause condition on the composite key
    eng.sql("MERGE INTO ck AS t USING cks AS s "
            "ON t.a = s.a AND t.b = s.b "
            "WHEN MATCHED AND s.v < t.v THEN DELETE")
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, 1, 10), (1, 2, 99), (3, 3, 30)]
    # a term binding the same side twice refuses
    with pytest.raises(ValueError, match="ON"):
        eng.sql("MERGE INTO ck AS t USING cks AS s "
                "ON t.a = t.a AND t.b = s.b "
                "WHEN MATCHED THEN UPDATE SET *")


# -- r10: APPLY AS DELETE WHEN (DLT predicate-marked deletes) ------------------

def test_apply_as_deletes_predicate(spark, tdir):
    """apply_as_deletes='op = ...': the batch carries an operation
    column instead of _change_type; rows matching the predicate fold as
    deletes, the rest upsert — on BOTH CDC folds.  A batch that also
    carries the change-type column refuses (two markers)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    batch = spark.createDataFrame(
        [(1, "a", 11, 1, "U"), (2, "b", 0, 1, "D"), (3, "c", 30, 1, "I")],
        "k int, grp string, v int, seq int, op string")
    t.apply_changes(batch, key="k", sequence_by="seq",
                    apply_as_deletes="op = 'D'")
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 11), (3, 30)]
    with pytest.raises(ValueError, match="ambiguous"):
        t.apply_changes(batch.withColumn("_change_type", F.lit("insert")),
                        key="k", sequence_by="seq",
                        apply_as_deletes="op = 'D'")
    # SCD2: the delete closes the chain; an unknown-key delete leaves a
    # zero-width tombstone through the same predicate route — INTERNAL
    # only (r11: the public read hides zero-width markers)
    t2 = TxLogTable.create(spark, tdir + "_scd2", _scd2_df(
        spark, [(1, 10, 0, None)]))
    t2.apply_changes_scd2(
        spark.createDataFrame([(1, 0, 2, "D"), (9, 0, 3, "D")],
                              "k int, v int, seq int, op string"),
        key="k", sequence_by="seq", apply_as_deletes="op = 'D'")
    got = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t2._read_active().collect()),
                 key=lambda x: (x[0], x[2]))
    assert got == [(1, 10, 0, 2), (9, None, 3, 3)]
    assert [(r["k"], r["v"], r["__START_AT"], r["__END_AT"])
            for r in t2.read().collect()] == [(1, 10, 0, 2)]


# -- r10: TRACK HISTORY EXCEPT (SCD2 column exclusions) ------------------------

def _scd2m_df(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, meta int, __START_AT int, __END_AT int")


def _scd2m_changes(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, meta int, seq int, _change_type string")


def test_scd2_track_history_except_basic(spark, tdir):
    """track_history_except_columns: a batch touching ONLY excluded
    columns updates the open row in place (same start, no new version);
    a tracked-column change opens a version as usual; within one batch,
    same-tracked runs collapse to one row whose excluded values are the
    run's LAST."""
    t = TxLogTable.create(spark, tdir, _scd2m_df(
        spark, [(1, "A", 0, 0, None), (2, "X", 0, 0, None)]),
        enable_cdf=True)
    # meta-only churn + a real change, one batch, out of order
    v = t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, "A", 2, 2, "u"), (1, "A", 1, 1, "u"),
                               (1, "B", 9, 3, "u")]),
        key="k", sequence_by="seq",
        track_history_except_columns=["meta"])
    got = sorted(((r["k"], r["v"], r["meta"], r["__START_AT"],
                   r["__END_AT"]) for r in t.read().collect()),
                 key=lambda x: (x[0], x[3]))
    # the open row [0,) absorbed the meta-only run (meta takes the LAST
    # value, start stays 0); v=B opens at 3; key 2 untouched
    assert got == [(1, "A", 2, 0, 3), (1, "B", 9, 3, None),
                   (2, "X", 0, 0, None)]
    # CDF: in-place excluded refresh + closure = pre/post pair(s), and
    # the new version is an insert
    ch = sorted((r["_change_type"], r["v"], r["meta"])
                for r in t.read_changes(v, v).collect())
    assert ("insert", "B", 9) in ch
    assert ("update_preimage", "A", 0) in ch
    assert ("update_postimage", "A", 2) in ch


def test_scd2_track_history_except_meta_only_batch(spark, tdir):
    """A batch that ONLY refreshes excluded columns leaves the chain
    shape untouched: same single open row, same start, new meta —
    and row ids survive the in-place refresh."""
    t = TxLogTable.create(spark, tdir, _scd2m_df(
        spark, [(1, "A", 0, 0, None)]), row_tracking=True)
    ids0 = {r["k"]: r["_row_id"] for r in t.read_with_row_ids().collect()}
    t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, "A", 7, 5, "u")]),
        key="k", sequence_by="seq",
        track_history_except_columns="meta")
    rows = t.read_with_row_ids().collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["v"], r["meta"], r["__START_AT"], r["__END_AT"]) == \
        ("A", 7, 0, None)
    assert r["_row_id"] == ids0[1], "absorbed open row must keep its id"


def test_scd2_track_history_except_backfill_composes(spark, tdir):
    """r11: TRACK HISTORY EXCEPT × allow_backfill (the v1 refusal
    removed).  A late TRACKED change splices into the recorded
    timeline with run collapse: the late event splits the open row's
    interval, and an excluded-only late event folds in WITHOUT opening
    a version (it collapses into the absorbed run, refreshing meta)."""
    t = TxLogTable.create(spark, tdir, _scd2m_df(spark, []))
    t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, "A", 1, 1, "u"), (1, "B", 4, 4, "u"),
                               (2, "X", 1, 1, "u")]),
        key="k", sequence_by="seq",
        track_history_except_columns=["meta"])
    # late TRACKED change inside [1, 4): splits the A row
    t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, "C", 2, 2, "u")]),
        key="k", sequence_by="seq", allow_backfill=True,
        track_history_except_columns=["meta"])
    got = sorted(((r["k"], r["v"], r["meta"], r["__START_AT"],
                   r["__END_AT"]) for r in t.read().collect()),
                 key=lambda x: (x[0], x[3]))
    assert got == [(1, "A", 1, 1, 2), (1, "C", 2, 2, 4),
                   (1, "B", 4, 4, None), (2, "X", 1, 1, None)]
    # late EXCLUDED-only change (same tracked value as the row holding
    # its interval): collapses into that run — no new version, meta
    # takes the run's LAST event's value (here the late event at 3 is
    # last inside the C run [2, 4))
    t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, "C", 9, 3, "u")]),
        key="k", sequence_by="seq", allow_backfill=True,
        track_history_except_columns=["meta"])
    got = sorted(((r["k"], r["v"], r["meta"], r["__START_AT"],
                   r["__END_AT"]) for r in t.read().collect()),
                 key=lambda x: (x[0], x[3]))
    assert got == [(1, "A", 1, 1, 2), (1, "C", 9, 2, 4),
                   (1, "B", 4, 4, None), (2, "X", 1, 1, None)]


def test_scd2_track_history_except_identity_still_collapses(spark, tdir):
    """r11 ADVICE: GENERATED BY DEFAULT identity columns are
    engine-managed, not tracked payload — batch events carry NULL
    identity while the open row carries its assigned value, so
    including identity in the run-boundary struct made every
    excluded-only refresh open a new version (and burn an id).
    Identity is excluded from run detection; a collapsed run keeps the
    FIRST event's identity (the absorbed open row's value)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "rid int, k int, v string, meta int, "
                              "__START_AT int, __END_AT int"),
        identity_columns={"rid": {"start": 100, "step": 1,
                                  "always": False}})
    changes = spark.createDataFrame(
        [(None, 1, "A", 0, 1, "u")],
        "rid int, k int, v string, meta int, seq int, _change_type string")
    t.apply_changes_scd2(changes, key="k", sequence_by="seq",
                         track_history_except_columns=["meta"])
    [r0] = t.read().collect()
    assert r0["rid"] == 100 and r0["__START_AT"] == 1
    # meta-only churn: must refresh IN PLACE — same start, same
    # identity, still exactly one row
    changes2 = spark.createDataFrame(
        [(None, 1, "A", 7, 2, "u"), (None, 1, "A", 9, 3, "u")],
        "rid int, k int, v string, meta int, seq int, _change_type string")
    t.apply_changes_scd2(changes2, key="k", sequence_by="seq",
                         track_history_except_columns=["meta"])
    rows = t.read().collect()
    assert len(rows) == 1, "excluded-only churn must not open versions"
    [r1] = rows
    assert (r1["rid"], r1["v"], r1["meta"],
            r1["__START_AT"], r1["__END_AT"]) == (100, "A", 9, 1, None)
    # a TRACKED change still opens a version; the new version gets a
    # fresh engine-assigned id, the closed one keeps 100
    changes3 = spark.createDataFrame(
        [(None, 1, "B", 9, 4, "u")],
        "rid int, k int, v string, meta int, seq int, _change_type string")
    t.apply_changes_scd2(changes3, key="k", sequence_by="seq",
                         track_history_except_columns=["meta"])
    got = sorted(((r["rid"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got[0] == (100, "A", 1, 4)
    assert got[1][1:] == ("B", 4, None) and got[1][0] > 100


def test_scd2_track_history_except_deletes_and_refusals(spark, tdir):
    """Deletes always close regardless of exclusions (and a re-insert
    with the SAME tracked value after a delete still opens a NEW
    version); invalid exclusion lists and the backfill combination
    refuse."""
    t = TxLogTable.create(spark, tdir, _scd2m_df(
        spark, [(1, "A", 0, 0, None)]))
    t.apply_changes_scd2(
        _scd2m_changes(spark, [(1, None, 0, 2, "delete"),
                               (1, "A", 5, 4, "u")]),
        key="k", sequence_by="seq",
        track_history_except_columns=["meta"])
    got = sorted(((r["v"], r["meta"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [("A", 0, 0, 2), ("A", 5, 4, None)]
    for kwargs, msg in [
        (dict(track_history_except_columns=["k"]), "non-key"),
        (dict(track_history_except_columns=["nope"]), "non-key"),
        (dict(track_history_except_columns=["v", "meta"]),
         "every non-key"),
    ]:
        with pytest.raises(ValueError, match=msg):
            t.apply_changes_scd2(
                _scd2m_changes(spark, [(1, "C", 0, 9, "u")]),
                key="k", sequence_by="seq", **kwargs)
    # frontier still guarded on the track-except route
    with pytest.raises(ValueError, match="settled history"):
        t.apply_changes_scd2(
            _scd2m_changes(spark, [(1, "C", 0, 1, "u")]),
            key="k", sequence_by="seq",
            track_history_except_columns=["meta"])


# -- r11: APPLY CHANGES FROM SNAPSHOT (the second DLT CDC ingestion mode) ----

def test_apply_changes_from_snapshot_scd1(spark, tdir):
    """Sequenced FULL snapshots (no change feed): the diff derives
    inserts (new keys), updates (changed payload), deletes (absent
    keys), and SKIPS identical rows; after each apply the SCD1 table
    equals the snapshot exactly.  Replayed snapshot versions no-op;
    out-of-order versions refuse."""
    t = TxLogTable.create(spark, tdir, _df(spark, []))
    s1 = _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)])
    t.apply_changes_from_snapshot(s1, key="k", snapshot_version=1)
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    # S2: k=2 changed, k=3 gone, k=4 born, k=1 identical
    s2 = _df(spark, [(1, "a", 10), (2, "a", 99), (4, "c", 40)])
    v2 = t.apply_changes_from_snapshot(s2, key="k", snapshot_version=2)
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "a", 99), (4, "c", 40)]
    # replay no-ops (idempotency marker rides the fold commit)
    assert t.apply_changes_from_snapshot(s2, key="k",
                                         snapshot_version=2) == v2
    assert t.latest_version() == v2
    # out-of-order refuses loudly
    with pytest.raises(ValueError, match="monotonically increasing"):
        t.apply_changes_from_snapshot(s1, key="k", snapshot_version=1)
    # an identical snapshot at a HIGHER version derives zero events but
    # still advances the marker (so its replay no-ops too)
    v3 = t.apply_changes_from_snapshot(s2, key="k", snapshot_version=3)
    assert v3 > v2
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, "a", 10), (2, "a", 99), (4, "c", 40)]


def test_apply_changes_from_snapshot_scd2(spark, tdir):
    """FROM SNAPSHOT × SCD TYPE 2: the derived events fold into full
    history — an unchanged key opens NO spurious version; a changed key
    closes its open row at the snapshot version; an absent key closes
    with no successor; a returning key re-opens."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, []))
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")  # noqa
    t.apply_changes_from_snapshot(mk([(1, 10), (2, 20)]), key="k",
                                  snapshot_version=1, scd_type=2)
    t.apply_changes_from_snapshot(mk([(1, 10), (2, 21)]), key="k",
                                  snapshot_version=2, scd_type=2)
    t.apply_changes_from_snapshot(mk([(2, 21), (3, 30)]), key="k",
                                  snapshot_version=3, scd_type=2)
    t.apply_changes_from_snapshot(mk([(1, 11), (2, 21), (3, 30)]),
                                  key="k", snapshot_version=4, scd_type=2)
    got = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()),
                 key=lambda x: (x[0], x[2]))
    assert got == [
        (1, 10, 1, 3),      # unchanged at v2 (no spurious version),
                            # absent from S3 -> closed at 3
        (1, 11, 4, None),   # returns at v4
        (2, 20, 1, 2),      # changed at v2
        (2, 21, 2, None),   # current ever since (S3/S4 identical)
        (3, 30, 3, None),   # born at v3
    ]


def test_apply_changes_from_snapshot_identity_and_refusals(spark, tdir):
    """BY DEFAULT identity composes: the snapshot does not carry the
    identity column — existing keys keep their assigned values through
    updates, inserted keys are engine-assigned.  Refusals: missing
    payload columns, engine columns in the snapshot, scd_type 1 with
    track-history, unknown scd_type."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "rid int, k int, v int"),
        identity_columns={"rid": {"start": 100, "step": 1,
                                  "always": False}})
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")  # noqa
    t.apply_changes_from_snapshot(mk([(1, 10), (2, 20)]), key="k",
                                  snapshot_version=1)
    rid_of = {r["k"]: r["rid"] for r in t.read().collect()}
    assert sorted(rid_of.values()) == [100, 101]
    t.apply_changes_from_snapshot(mk([(1, 99), (3, 30)]), key="k",
                                  snapshot_version=2)
    after = {r["k"]: (r["rid"], r["v"]) for r in t.read().collect()}
    assert after[1] == (rid_of[1], 99), "updated key keeps its identity"
    assert 2 not in after and after[3][1] == 30 and after[3][0] > 101
    with pytest.raises(ValueError, match="lacks target column"):
        t.apply_changes_from_snapshot(
            spark.createDataFrame([(1,)], "k int"), key="k",
            snapshot_version=9)
    with pytest.raises(ValueError, match="engine column"):
        t.apply_changes_from_snapshot(
            spark.createDataFrame([(1, 1, "x")],
                                  "k int, v int, _change_type string"),
            key="k", snapshot_version=9)
    with pytest.raises(ValueError, match="requires scd_type=2"):
        t.apply_changes_from_snapshot(
            mk([(1, 1)]), key="k", snapshot_version=9,
            track_history_except_columns=["v"])
    with pytest.raises(ValueError, match="scd_type"):
        t.apply_changes_from_snapshot(mk([(1, 1)]), key="k",
                                      snapshot_version=9, scd_type=3)


def test_apply_changes_from_snapshot_sql_statement(spark, tdir):
    """The APPLY CHANGES INTO … FROM SNAPSHOT … VERSION n statement
    routes onto apply_changes_from_snapshot (SCD 1 default, SCD 2 via
    STORED AS)."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, []))
    eng.register_txlog("snaptgt", t)
    spark.createDataFrame([(1, 10), (2, 20)], "k int, v int") \
        .createOrReplaceTempView("snapsrc")
    eng.sql("APPLY CHANGES INTO snaptgt FROM SNAPSHOT snapsrc "
            "VERSION 1 KEYS (k) STORED AS SCD TYPE 2")
    spark.createDataFrame([(2, 21)], "k int, v int") \
        .createOrReplaceTempView("snapsrc")
    eng.sql("APPLY CHANGES INTO snaptgt FROM SNAPSHOT snapsrc "
            "VERSION 2 KEYS (k) STORED AS SCD TYPE 2")
    got = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in eng.sql("SELECT * FROM snaptgt").collect()),
                 key=lambda x: (x[0], x[2]))
    assert got == [(1, 10, 1, 2), (2, 20, 1, 2), (2, 21, 2, None)]


def test_snapshot_sink_foreachbatch(spark, tdir):
    """snapshot_sink: each micro-batch is a COMPLETE source snapshot and
    the deterministic batch_id is its version — the final SCD1 state
    equals the last snapshot and a replayed epoch no-ops (the same
    foreachBatch (df, batch_id) contract Structured Streaming drives)."""
    t = TxLogTable.create(spark, tdir,
                          spark.createDataFrame([], "k int, v int"))
    sink = t.snapshot_sink("snapjob", key="k")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")  # noqa
    sink(mk([(1, 10), (2, 20)]), 0)
    sink(mk([(1, 11), (3, 30)]), 1)
    sink(mk([(1, 11), (3, 30)]), 1)  # replayed epoch: no-op
    assert sorted(tuple(r) for r in t.read().collect()) == \
        [(1, 11), (3, 30)]
    assert t.history()[-1]["op"] == "APPLY CHANGES"
    # r12: an OLD epoch below the watermark is REFUSED loudly (folding
    # a stale snapshot backwards would silently rewrite derived state)
    v = t.latest_version()
    with pytest.raises(ValueError, match="below the last applied"):
        sink(mk([(1, 10), (2, 20)]), 0)
    assert t.latest_version() == v


def test_scd2_tombstone_hiding_retroactive_time_travel(spark, tdir):
    """ADVICE r11 (medium): tombstone hiding is retroactive for time
    travel — a table stamped today was SCD2 all along, so an as-of
    read of a PRE-stamp version applies the LATEST stamp instead of
    showing tombstones the current read hides."""
    # simulate a pre-upgrade table: a zero-width tombstone row exists
    # in the data but no txlog.scd2.* stamp records the history columns
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, 10, 0, None), (2, 0, 5, 5)],
                              "k int, v int, __START_AT int, "
                              "__END_AT int"))
    v_pre = t.latest_version()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2], \
        "unstamped table: nothing marks it SCD2, tombstone visible"
    # first post-upgrade SCD2 apply stamps the history columns
    t.apply_changes_scd2(
        spark.createDataFrame([(3, 30, 1, "u")],
                              "k int, v int, seq int, _change_type string"),
        key="k", sequence_by="seq")
    assert t.properties()["txlog.scd2.startCol"] == "__START_AT"
    # current read hides the tombstone…
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]
    # …and so does time travel to the PRE-stamp version (retroactive)
    assert sorted(r["k"] for r in t.read(version=v_pre).collect()) == [1]
    # the internal trace keeps the tombstone at every version
    assert sorted(r["k"] for r in t._read_active(v_pre).collect()) == \
        [1, 2]


def test_mv_scd2_tombstone_audit_repairs_once(spark, tdir, tmp_path):
    """ADVICE r11 (medium): an MV maintained from an SCD2 source's
    change feed before tombstone suppression may have counted
    zero-width inserts.  The first refresh against a stamped source
    audits the folded CDF range once; a hit forces the FULL repair and
    the verdict marker lands atomically with it; clean sources stamp
    the marker without repairing; later refreshes stay incremental."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, "/root/testdata/sf0.001")
    src = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, "g", 10, 0, None)],
                              "k int, grp string, v int, __START_AT int, "
                              "__END_AT int"),
        enable_cdf=True)
    engine.register_txlog("tasrc", src)
    engine.sql("CREATE MATERIALIZED VIEW tamv AS "
               "SELECT grp, COUNT(*) AS n, SUM(v) AS total FROM tasrc "
               "GROUP BY grp")
    # pre-suppression feed shape: a zero-width tombstone row arrives as
    # a plain CDF insert (appends are not SCD2-aware) and the MV counts
    # it because the table is not yet stamped
    src.append(spark.createDataFrame([(2, "g", 0, 5, 5)],
                                     "k int, grp string, v int, "
                                     "__START_AT int, __END_AT int"))
    engine.sql("REFRESH MATERIALIZED VIEW tamv")
    mv = engine.txlog_tables["tamv"]
    assert [tuple(r) for r in
            engine.sql("SELECT n, total FROM tamv").collect()] == \
        [(2, 10)], "pre-stamp: the tombstone insert was counted"
    # the first SCD2 apply stamps the source; the next refresh audits
    # the folded feed, finds the tombstone insert, FULL-repairs from
    # the public read (tombstones hidden), and stamps the verdict in
    # the SAME commit as the repair
    src.apply_changes_scd2(
        spark.createDataFrame([(3, "g", 30, 1, "u")],
                              "k int, grp string, v int, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq")
    v_pre = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW tamv")
    assert mv.latest_version() == v_pre + 1, \
        "repair + audit marker must land as one commit"
    assert mv.properties()["mv.scd2TombstoneAudit"] == "clean"
    assert [tuple(r) for r in
            engine.sql("SELECT n, total FROM tamv").collect()] == \
        [(2, 40)], "repaired: k=1,3 counted, tombstone excluded"
    # audited clean: the next refresh is plain incremental (no rescan)
    src.apply_changes_scd2(
        spark.createDataFrame([(4, "g", 40, 1, "u")],
                              "k int, grp string, v int, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq")
    v1 = mv.latest_version()
    engine.sql("REFRESH MATERIALIZED VIEW tamv")
    assert mv.latest_version() == v1 + 1
    assert [tuple(r) for r in
            engine.sql("SELECT n, total FROM tamv").collect()] == \
        [(3, 80)]


def test_multi_flow_sinks_one_target_exactly_once(spark, tdir):
    """r12 multi-flow ingestion (DLT allows several flows appending to
    ONE target): a cdc_sink flow and a streaming_sink append flow write
    the same table through SEPARATE handles — each flow keeps its own
    txn watermark (distinct txn_app_id), replays no-op per flow,
    interleaved commits compose through OCC, and a threaded barrage of
    both flows (with per-epoch replays) still lands every batch exactly
    once."""
    import threading

    t = TxLogTable.create(
        spark, tdir, spark.createDataFrame([], "k int, v int"))
    ta = TxLogTable(spark, tdir)   # flow A: CDC upserts on keys 1..9
    tb = TxLogTable(spark, tdir)   # flow B: appends on keys 100+
    sink_a = ta.cdc_sink("flowA", key="k", sequence_by="seq")
    sink_b = tb.streaming_sink("flowB")
    mk_a = lambda e: spark.createDataFrame(  # noqa: E731
        [(k, 10 * e + k, e, "u") for k in range(1, 10)],
        "k int, v int, seq int, _change_type string")
    mk_b = lambda e: spark.createDataFrame(  # noqa: E731
        [(100 + 10 * e + i, i) for i in range(3)], "k int, v int")
    # deterministic interleave: A0 B0 A0(replay) B0(replay) A1 B1 ...
    for e in range(2):
        sink_a(mk_a(e), e)
        sink_b(mk_b(e), e)
        sink_a(mk_a(e), e)   # replayed epoch: no-op for A only
        sink_b(mk_b(e), e)   # replayed epoch: no-op for B only
    assert ta.txn_version_for("flowA") == 1
    assert ta.txn_version_for("flowB") == 1
    got = {r["k"]: r["v"] for r in t.read().collect()}
    want = {k: 10 + k for k in range(1, 10)}             # A: epoch1 wins
    want.update({100 + i: i for i in range(3)})          # B epoch 0
    want.update({110 + i: i for i in range(3)})          # B epoch 1
    assert got == want
    # threaded barrage: epochs 2..4 from both flows concurrently, each
    # delivered twice (at-least-once transport); barriers force the
    # flows to race each epoch through OCC
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def drive(sink, mk):
        try:
            for e in range(2, 5):
                barrier.wait(timeout=120)
                batch = mk(e)
                sink(batch, e)
                sink(batch, e)
        except Exception as ex:  # pragma: no cover - surfaced below
            errs.append(ex)

    th_a = threading.Thread(target=drive, args=(sink_a, mk_a))
    th_b = threading.Thread(target=drive, args=(sink_b, mk_b))
    th_a.start(), th_b.start()
    th_a.join(300), th_b.join(300)
    assert not errs, errs
    assert ta.txn_version_for("flowA") == 4
    assert ta.txn_version_for("flowB") == 4
    got = {r["k"]: r["v"] for r in t.read().collect()}
    want = {k: 40 + k for k in range(1, 10)}             # A: epoch4 wins
    for e in range(5):
        want.update({100 + 10 * e + i: i for i in range(3)})
    assert got == want, "every epoch exactly once, no replays doubled"
    ops = [h["op"] for h in t.history()]
    assert ops.count("APPLY CHANGES") == 5 and ops.count("APPEND") == 5


def test_apply_changes_from_snapshot_track_history_except(spark, tdir):
    """FROM SNAPSHOT × SCD2 × TRACK HISTORY EXCEPT: a snapshot whose
    only movement is in excluded columns refreshes the open rows in
    place (no new version); tracked movement opens versions."""
    t = TxLogTable.create(spark, tdir, _scd2m_df(spark, []))
    mk = lambda rows: spark.createDataFrame(rows,  # noqa: E731
                                            "k int, v string, meta int")
    t.apply_changes_from_snapshot(mk([(1, "A", 1)]), key="k",
                                  snapshot_version=1, scd_type=2,
                                  track_history_except_columns=["meta"])
    # meta-only snapshot churn: absorbed, same start, meta refreshed.
    # NOTE the diff still derives an update event (payload differs on
    # meta), but the TE fold absorbs it instead of opening a version.
    t.apply_changes_from_snapshot(mk([(1, "A", 7)]), key="k",
                                  snapshot_version=2, scd_type=2,
                                  track_history_except_columns=["meta"])
    rows = t.read().collect()
    assert len(rows) == 1
    assert (rows[0]["v"], rows[0]["meta"], rows[0]["__START_AT"],
            rows[0]["__END_AT"]) == ("A", 7, 1, None)
    # tracked movement: opens a version
    t.apply_changes_from_snapshot(mk([(1, "B", 7)]), key="k",
                                  snapshot_version=3, scd_type=2,
                                  track_history_except_columns=["meta"])
    got = sorted(((r["v"], r["meta"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [("A", 7, 1, 3), ("B", 7, 3, None)]


def test_apply_changes_sql_statement(spark, tdir):
    """APPLY CHANGES INTO … through Engine.sql: type-1 fold with APPLY
    AS DELETE WHEN + COLUMNS * EXCEPT, type-2 with TRACK HISTORY ON *
    EXCEPT; TRACK HISTORY without TYPE 2 refuses; dropping a key via
    COLUMNS * EXCEPT refuses."""
    from distributed_database_for_sql_spark.engine import Engine

    engine = Engine(spark, "/root/testdata/sf0.001")
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    engine.register_txlog("act", t)
    spark.createDataFrame(
        [(1, "a", 11, 1, "U", "x"), (2, "b", 0, 1, "D", "x"),
         (3, "c", 30, 1, "I", "x")],
        "k int, grp string, v int, seq int, op string, junk string") \
        .createOrReplaceTempView("acsrc")
    engine.sql("APPLY CHANGES INTO act FROM acsrc KEYS (k) "
               "APPLY AS DELETE WHEN op = 'D' SEQUENCE BY seq "
               "COLUMNS * EXCEPT (op, junk)")
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == \
        [(1, 11), (3, 30)]
    # SCD2 + TRACK HISTORY through the statement
    t2 = TxLogTable.create(spark, tdir + "_h", _scd2m_df(
        spark, [(1, "A", 0, 0, None)]))
    engine.register_txlog("acth", t2)
    spark.createDataFrame(
        [(1, "A", 7, 5, "U"), (1, "B", 8, 6, "U")],
        "k int, v string, meta int, seq int, op string") \
        .createOrReplaceTempView("acsrc2")
    engine.sql("APPLY CHANGES INTO acth FROM acsrc2 KEYS (k) "
               "APPLY AS DELETE WHEN op = 'D' SEQUENCE BY seq "
               "COLUMNS * EXCEPT (op) STORED AS SCD TYPE 2 "
               "TRACK HISTORY ON * EXCEPT (meta)")
    got = sorted(((r["v"], r["meta"], r["__START_AT"], r["__END_AT"])
                  for r in t2.read().collect()), key=lambda x: x[2])
    # meta-only event @5 absorbed into the open row; v change @6 opens
    assert got == [("A", 7, 0, 6), ("B", 8, 6, None)]
    with pytest.raises(ValueError, match="SCD\\s*\\nTYPE 2|TYPE 2"):
        engine.sql("APPLY CHANGES INTO acth FROM acsrc2 KEYS (k) "
                   "SEQUENCE BY seq TRACK HISTORY ON * EXCEPT (meta)")
    with pytest.raises(ValueError, match="key/sequence"):
        engine.sql("APPLY CHANGES INTO act FROM acsrc KEYS (k) "
                   "SEQUENCE BY seq COLUMNS * EXCEPT (k)")


def test_apply_changes_ignore_null_updates(spark, tdir):
    """DLT IGNORE NULL UPDATES: NULL event columns keep the previous
    value — inherited from the existing target row, resolved
    sequentially across the batch, and RESET by a delete (post-delete
    events inherit nothing from before it).  Without the flag, NULLs
    overwrite as before."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20),
                                                   (3, "c", 30)]))
    batch = spark.createDataFrame(
        [
            # k=1: null v inherits 10, then grp z arrives; final (z, 10)
            (1, None, None, 1, "u"), (1, "z", None, 2, "u"),
            # k=2: delete resets; post-delete nulls inherit NOTHING
            (2, None, 0, 1, "delete"), (2, None, 7, 2, "u"),
            # k=4 (new key): nulls have nothing to inherit
            (4, None, 40, 1, "u"),
        ],
        "k int, grp string, v int, seq int, _change_type string")
    t.apply_changes(batch, key="k", sequence_by="seq",
                    ignore_null_updates=True)
    got = {r["k"]: (r["grp"], r["v"]) for r in t.read().collect()}
    assert got == {1: ("z", 10), 2: (None, 7), 3: ("c", 30),
                   4: (None, 40)}
    # hypothesis-found (r10): a delete's own non-NULL payload must not
    # leak into post-delete NULL slots (its epoch starts AT the delete)
    t3 = TxLogTable.create(spark, tdir + "_leak",
                           spark.createDataFrame([], "k int, v int"))
    t3.apply_changes(
        spark.createDataFrame([(0, 0, 1, "delete"), (0, None, 2, "u")],
                              "k int, v int, seq int, _change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True)
    assert [(r["k"], r["v"]) for r in t3.read().collect()] == [(0, None)]
    # without the flag, the winner row's NULLs overwrite
    t2 = TxLogTable.create(spark, tdir + "_plain",
                           _df(spark, [(1, "a", 10)]))
    t2.apply_changes(
        spark.createDataFrame([(1, None, None, 1, "u")],
                              "k int, grp string, v int, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq")
    r = t2.read().collect()[0]
    assert (r["grp"], r["v"]) == (None, None)


def test_apply_changes_scd2_ignore_null_updates(spark, tdir):
    """r11: IGNORE NULL UPDATES composes with SCD TYPE 2 (the r10 v1
    refusal removed): NULL event columns inherit sequentially, so each
    opened history version carries the value inherited AT its sequence
    — seeded by the key's open row, reset by deletes."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, "a", 10, 0, None), (2, "b", 20, 0, None)],
                              "k int, grp string, v int, "
                              "__START_AT int, __END_AT int"))
    batch = spark.createDataFrame(
        [
            # k=1: v NULL inherits 10 at seq 1 (version [1,2) = (z, 10)),
            # grp NULL inherits z at seq 2 (version [2,) = (z, 11))
            (1, "z", None, 1, "u"), (1, None, 11, 2, "u"),
            # k=2: delete resets; the post-delete version inherits
            # NOTHING (grp NULL stays NULL)
            (2, None, 0, 1, "delete"), (2, None, 7, 2, "u"),
        ],
        "k int, grp string, v int, seq int, _change_type string")
    t.apply_changes_scd2(batch, key="k", sequence_by="seq",
                         ignore_null_updates=True)
    got = sorted(((r["k"], r["grp"], r["v"], r["__START_AT"],
                   r["__END_AT"]) for r in t.read().collect()),
                 key=lambda x: (x[0], x[3]))
    assert got == [
        (1, "a", 10, 0, 1), (1, "z", 10, 1, 2), (1, "z", 11, 2, None),
        (2, "b", 20, 0, 1), (2, None, 7, 2, None),
    ]
    # r12: the backfill refusal is GONE — a below-frontier batch with
    # NULL slots splices (the dedicated tests below pin the inheritance
    # semantics across the splice; here: a brand-new key's NULL slot
    # has nothing to inherit and stays NULL)
    late = spark.createDataFrame(
        [(3, "n", None, 1, "u")],
        "k int, grp string, v int, seq int, _change_type string")
    t.apply_changes_scd2(late, key="k", sequence_by="seq",
                         ignore_null_updates=True, allow_backfill=True)
    got = sorted(((r["k"], r["grp"], r["v"], r["__START_AT"],
                   r["__END_AT"]) for r in t.read().collect()
                  if r["k"] == 3), key=lambda x: (x[0], x[3]))
    assert got == [(3, "n", None, 1, None)], \
        "new-key splice: nothing to inherit, v stays NULL"


def test_scd2_ignore_nulls_backfill_inherits_across_splice(spark, tdir):
    """r12 (the r11 verdict's top ask): IGNORE NULL UPDATES composes
    with allow_backfill — the inheritance chain rides the splice
    re-fold.  A spliced event's NULL slot inherits from whatever
    precedes it in TRUE sequence order; recorded payloads of
    already-folded events are authoritative (raw NULL-ness is not
    recorded), so a spliced earlier value never rewrites a recorded
    non-NULL — the recorded-timeline semantics TRACK HISTORY EXCEPT ×
    backfill also documents."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, a int, b string, "
                              "__START_AT int, __END_AT int"))
    b1 = spark.createDataFrame(
        [(1, 10, "x", 2, "u"), (1, 20, None, 6, "u")],
        "k int, a int, b string, seq int, _change_type string")
    t.apply_changes_scd2(b1, key="k", sequence_by="seq",
                         ignore_null_updates=True)
    # splice seq 4: a NULL inherits 10 from seq 2 ACROSS the splice;
    # b='y' does NOT rewrite the seq-6 row's recorded 'x' (it was
    # inherited at fold time, but recorded values are authoritative)
    b2 = spark.createDataFrame(
        [(1, None, "y", 4, "u")],
        "k int, a int, b string, seq int, _change_type string")
    t.apply_changes_scd2(b2, key="k", sequence_by="seq",
                         ignore_null_updates=True, allow_backfill=True)
    got = sorted(((r["a"], r["b"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [(10, "x", 2, 4), (10, "y", 4, 6), (20, "x", 6, None)]


def test_scd2_ignore_nulls_backfill_recorded_null_and_delete_reset(
        spark, tdir, tmp_path):
    """Two splice-inheritance edges: (a) a RECORDED NULL (nothing to
    inherit existed at fold time) picks up a spliced earlier value —
    exactly what the in-order fold would have produced; (b) a delete's
    reconstructed event resets the chain, so a post-delete spliced (or
    re-folded) NULL slot inherits nothing."""
    t = TxLogTable.create(
        spark, str(tmp_path / "a"),
        spark.createDataFrame([], "k int, a int, b string, "
                              "__START_AT int, __END_AT int"))
    t.apply_changes_scd2(
        spark.createDataFrame([(1, 5, None, 10, "u")],
                              "k int, a int, b string, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True)
    t.apply_changes_scd2(
        spark.createDataFrame([(1, None, "z", 3, "u")],
                              "k int, a int, b string, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True,
        allow_backfill=True)
    got = sorted(((r["a"], r["b"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [(None, "z", 3, 10), (5, "z", 10, None)], \
        "recorded NULL b at seq 10 inherits the spliced seq-3 'z'"

    t2 = TxLogTable.create(
        spark, str(tmp_path / "b"),
        spark.createDataFrame([], "k int, a int, b string, "
                              "__START_AT int, __END_AT int"))
    t2.apply_changes_scd2(
        spark.createDataFrame(
            [(1, 1, "p", 1, "u"), (1, None, None, 5, "delete")],
            "k int, a int, b string, seq int, _change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True)
    t2.apply_changes_scd2(
        spark.createDataFrame([(1, None, "q", 7, "u")],
                              "k int, a int, b string, seq int, "
                              "_change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True,
        allow_backfill=True)
    got = sorted(((r["a"], r["b"], r["__START_AT"], r["__END_AT"])
                  for r in t2.read().collect()), key=lambda x: x[2])
    assert got == [(1, "p", 1, 5), (None, "q", 7, None)], \
        "the delete at 5 resets the chain — seq 7's NULL a inherits " \
        "nothing"


def test_scd2_ignore_nulls_track_except_backfill_compose(spark, tdir):
    """r12 triple composition: IGNORE NULL UPDATES × TRACK HISTORY
    EXCEPT × allow_backfill.  The splice resolves inheritance FIRST
    (so run detection compares RESOLVED tracked values — a NULL
    inherit slot whose resolved value equals its neighbor absorbs
    instead of opening a version), then collapses runs, then folds."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, v string, meta int, "
                              "__START_AT int, __END_AT int"))
    b1 = spark.createDataFrame(
        [(1, "A", 1, 2, "u"), (1, "B", 3, 8, "u")],
        "k int, v string, meta int, seq int, _change_type string")
    t.apply_changes_scd2(b1, key="k", sequence_by="seq",
                         ignore_null_updates=True,
                         track_history_except_columns=["meta"])
    # splice seq 5: v NULL inherits 'A' (the value AT seq 5 in true
    # order) — resolved BEFORE run detection, so it absorbs into the
    # seq-2 'A' run (meta refreshes to 9); the seq-8 'B' row's bounds
    # are untouched
    late = spark.createDataFrame(
        [(1, None, 9, 5, "u")],
        "k int, v string, meta int, seq int, _change_type string")
    t.apply_changes_scd2(late, key="k", sequence_by="seq",
                         ignore_null_updates=True,
                         track_history_except_columns=["meta"],
                         allow_backfill=True)
    got = sorted(((r["v"], r["meta"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [("A", 9, 2, 8), ("B", 3, 8, None)], got


def test_scd1_ignore_nulls_gates_resolved_rows(spark, tdir):
    """r12: the SCD1 fold gates expectations on RESOLVED rows too (the
    same ADVICE-r11 contract as SCD2) — a NULL inherit slot that
    resolves to a passing value is not a violation, and an event whose
    RESOLVED value violates is dropped before the fold."""
    t = TxLogTable.create(
        spark, tdir, spark.createDataFrame([(1, 3)], "k int, a int"))
    t.add_expectation("a_pos", "a > 0", action="drop")
    t.apply_changes(
        spark.createDataFrame([(1, None, 10, "u"), (2, -7, 10, "u")],
                              "k int, a int, seq int, _change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True)
    got = sorted(tuple(r) for r in t.read().collect())
    # k=1: NULL resolved to the seeded 3 → passed; k=2: resolved -7 →
    # dropped (no row lands, the existing state is untouched)
    assert got == [(1, 3)]
    h = [c for c in t.history() if "expectations" in c]
    assert h[-1]["expectations"]["a_pos"] == {
        "failed": 1, "passed": 1, "action": "drop"}


def test_scd2_ignore_nulls_backfill_gates_resolved_rows(spark, tdir):
    """ADVICE r11 + r12 composition: with IGNORE NULL UPDATES the
    expectation gate evaluates the RESOLVED rows — a NULL inherit slot
    that resolves to a passing value is NOT a violation, in both the
    in-order path and the backfill splice; metrics ride the commit."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([], "k int, a int, "
                              "__START_AT int, __END_AT int"))
    t.add_expectation("a_pos", "a > 0", action="drop")
    t.apply_changes_scd2(
        spark.createDataFrame([(1, 3, 10, "u"), (1, None, 14, "u")],
                              "k int, a int, seq int, _change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True)
    # in-order: the NULL slot resolved to 3 → passed, not dropped
    got = sorted(((r["a"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[1])
    assert got == [(3, 10, 14), (3, 14, None)]
    h = [c for c in t.history() if "expectations" in c]
    assert h[-1]["expectations"]["a_pos"]["failed"] == 0
    # splice: NULL slot at seq 12 resolves to 3 (passes); an explicit
    # violating event at seq 13 is dropped from the re-folded timeline
    t.apply_changes_scd2(
        spark.createDataFrame([(1, None, 12, "u"), (1, -9, 13, "u")],
                              "k int, a int, seq int, _change_type string"),
        key="k", sequence_by="seq", ignore_null_updates=True,
        allow_backfill=True)
    got = sorted(((r["a"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[1])
    assert got == [(3, 10, 12), (3, 12, 14), (3, 14, None)], \
        "seq 13 dropped by the gate; seq 12 resolved+passed"
    h = [c for c in t.history() if "expectations" in c]
    assert h[-1]["expectations"]["a_pos"] == {
        "failed": 1, "passed": 1, "action": "drop"}


def test_apply_changes_scd2_ignore_nulls_sql_and_sink(spark, tdir,
                                                      tmp_path):
    """The statement route accepts IGNORE NULL UPDATES with STORED AS
    SCD TYPE 2, and cdc_sink(scd_type=2, ignore_null_updates=True) no
    longer refuses."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(1, "a", 10, 0, None)],
                              "k int, grp string, v int, "
                              "__START_AT int, __END_AT int"))
    eng.register_txlog("inscd2", t)
    spark.createDataFrame([(1, None, 11, 1, "u")],
                          "k int, grp string, v int, seq int, "
                          "_change_type string") \
        .createOrReplaceTempView("inscd2_src")
    eng.sql("APPLY CHANGES INTO inscd2 FROM inscd2_src KEYS (k) "
            "IGNORE NULL UPDATES SEQUENCE BY seq STORED AS SCD TYPE 2")
    got = sorted(((r["grp"], r["v"], r["__START_AT"], r["__END_AT"])
                  for r in t.read().collect()), key=lambda x: x[2])
    assert got == [("a", 10, 0, 1), ("a", 11, 1, None)]
    # the streaming sink accepts the combination (construction only —
    # the fold path is certified above)
    sink = t.cdc_sink("app", key="k", sequence_by="seq", scd_type=2,
                      ignore_null_updates=True)
    assert callable(sink)


# -- r11: DLT expectations (data-quality gates with per-commit metrics) ------

def test_expectations_gate_appends(spark, tdir):
    """EXPECT (warn) keeps violating rows but records metrics; ON
    VIOLATION DROP ROW filters them; ON VIOLATION FAIL UPDATE aborts
    the ingest with nothing committed.  Metrics ride the commit info
    (DESCRIBE HISTORY); one aggregate job serves every expectation."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.add_expectation("positive_v", "v > 0", action="warn")
    t.add_expectation("known_grp", "grp IS NOT NULL", action="drop")
    # warn keeps, drop filters; NULL predicate counts as violation
    t.append(_df(spark, [(2, "b", -5), (3, None, 30), (4, "c", None)]))
    got = sorted((r["k"] for r in t.read().collect()))
    assert got == [1, 2, 4], "NULL-grp row dropped; warn rows kept"
    h = t.history()[-1]
    assert h["op"] == "APPEND"
    # v > 0 fails for v=-5 AND v=NULL (NULL counts as violation);
    # grp IS NOT NULL fails for the dropped row
    assert h["expectations"]["positive_v"] == {
        "failed": 2, "passed": 1, "action": "warn"}
    assert h["expectations"]["known_grp"] == {
        "failed": 1, "passed": 2, "action": "drop"}
    # fail aborts before anything lands
    t.add_expectation("small_k", "k < 100", action="fail")
    v = t.latest_version()
    with pytest.raises(ValueError, match="FAIL UPDATE"):
        t.append(_df(spark, [(500, "z", 1)]))
    assert t.latest_version() == v
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 4]
    # expectations survive a fresh handle (properties, not memory)
    t2 = TxLogTable(spark, tdir)
    assert set(t2.expectations()) == {"positive_v", "known_grp",
                                      "small_k"}
    t2.drop_expectation("small_k")
    t2.append(_df(spark, [(500, "z", 1)]))
    assert 500 in {r["k"] for r in t2.read().collect()}


def test_expectations_cdc_folds_exempt_deletes(spark, tdir):
    """Expectations gate CDC change batches too — but DELETE events are
    EXEMPT (their masked/NULL payloads are not data rows): a delete for
    an existing key must close/remove it even when the expectation
    would reject its NULL payload."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10),
                                                   (2, "b", 20)]))
    t.add_expectation("positive_v", "v > 0", action="drop")
    batch = spark.createDataFrame(
        [(1, "a", None, 1, "upsert"),      # dropped (NULL v)
         (2, None, None, 1, "delete"),     # exempt: still deletes
         (3, "c", 30, 1, "upsert")],       # passes
        "k int, grp string, v int, seq int, _change_type string")
    t.apply_changes(batch, key="k", sequence_by="seq")
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, 10), (3, 30)], \
        "k=1 kept its old row (violating upsert dropped), k=2 deleted"
    m = t.history()[-1]["expectations"]["positive_v"]
    assert m == {"failed": 1, "passed": 1, "action": "drop"}
    # SCD2 fold: same exemption
    t2 = TxLogTable.create(spark, tdir + "_scd2",
                           _scd2_df(spark, [(1, 10, 0, None)]))
    t2.add_expectation("positive_v", "v > 0", action="drop")
    t2.apply_changes_scd2(
        _scd2_changes(spark, [(1, None, 2, "delete"),
                              (5, -1, 1, "insert")]),
        key="k", sequence_by="seq")
    got2 = sorted(((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
                   for r in t2.read().collect()))
    assert got2 == [(1, 10, 0, 2)], \
        "delete closed the chain; violating insert dropped"


def test_expectations_gate_copy_into(spark, tdir, tmp_path):
    """COPY INTO — the bulk-ingest front door — gates through the
    table's expectations like every other ingest path: DROP rows are
    filtered from the landing files, metrics ride the COPY INTO
    commit, and a FAIL violation aborts with the file watermark NOT
    advanced (the retry after fixing the data loads the file)."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.add_expectation("pos_v", "v > 0", action="drop")
    import pandas as pd

    land = tmp_path / "land"
    land.mkdir()
    pd.DataFrame({"k": [2, 3], "grp": ["b", "c"], "v": [-1, 30]}) \
        .to_parquet(str(land / "f1.parquet"))
    _, n = t.copy_into(str(land))
    assert n == 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]
    h = t.history()[-1]
    assert h["op"] == "COPY INTO"
    assert h["expectations"]["pos_v"] == {"failed": 1, "passed": 1,
                                          "action": "drop"}
    # FAIL aborts and does NOT consume the file
    t.add_expectation("small_k", "k < 100", action="fail")
    pd.DataFrame({"k": [500], "grp": ["z"], "v": [5]}) \
        .to_parquet(str(land / "f2.parquet"))
    v = t.latest_version()
    with pytest.raises(ValueError, match="FAIL UPDATE"):
        t.copy_into(str(land))
    assert t.latest_version() == v
    t.drop_expectation("small_k")
    _, n2 = t.copy_into(str(land))
    assert n2 == 1, "the aborted file retries after the gate is lifted"
    assert 500 in {r["k"] for r in t.read().collect()}


def test_expectations_sql_route(spark, tdir):
    """ALTER TABLE … ADD CONSTRAINT n EXPECT (pred) [ON VIOLATION …]
    routes onto add_expectation; DROP CONSTRAINT handles both CHECK
    constraints and expectations (one namespace)."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    eng.register_txlog("expt", t)
    eng.sql("ALTER TABLE expt ADD CONSTRAINT pos_v EXPECT (v > 0) "
            "ON VIOLATION DROP ROW")
    eng.sql("ALTER TABLE expt ADD CONSTRAINT warn_grp EXPECT "
            "(grp IS NOT NULL)")
    assert t.expectations()["pos_v"]["action"] == "drop"
    assert t.expectations()["warn_grp"]["action"] == "warn"
    # one namespace with CHECK constraints
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("ALTER TABLE expt ADD CONSTRAINT pos_v CHECK (v > 0)")
    eng.sql("INSERT INTO expt VALUES (2, 'b', -1), (3, 'c', 5)")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]
    eng.sql("ALTER TABLE expt DROP CONSTRAINT pos_v")
    assert "pos_v" not in t.expectations()
    eng.sql("INSERT INTO expt VALUES (4, 'd', -9)")
    assert 4 in {r["k"] for r in t.read().collect()}


def test_show_expectations_and_metrics(spark, tdir):
    """r12 expectations surfacing: SHOW EXPECTATIONS lists the declared
    gates; SHOW EXPECTATION METRICS serves the recorded per-commit
    pass/fail counts as one row per (commit, expectation) — the
    queryable event log behind DLT's data-quality dashboard.  Both are
    metadata-only (no data file read)."""
    from distributed_database_for_sql_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    eng.register_txlog("sexp", t)
    # empty surfaces: no gates declared, no metrics recorded
    assert eng.sql("SHOW EXPECTATIONS sexp").count() == 0
    assert eng.sql("SHOW EXPECTATION METRICS sexp").count() == 0
    eng.sql("ALTER TABLE sexp ADD CONSTRAINT pos_v EXPECT (v > 0) "
            "ON VIOLATION DROP ROW")
    eng.sql("ALTER TABLE sexp ADD CONSTRAINT warn_grp EXPECT "
            "(grp IS NOT NULL)")
    decl = {(r["name"], r["expr"], r["action"])
            for r in eng.sql("SHOW EXPECTATIONS sexp").collect()}
    assert decl == {("pos_v", "v > 0", "drop"),
                    ("warn_grp", "grp IS NOT NULL", "warn")}
    t.append(_df(spark, [(2, "b", -1), (3, None, 5), (4, "c", 7)]))
    t.append(_df(spark, [(5, "d", 9)]))
    met = eng.sql("SHOW EXPECTATION METRICS sexp").collect()
    assert len(met) == 4, "2 gated commits x 2 expectations"
    by = {(r["version"], r["name"]): (r["passed"], r["failed"],
                                      r["action"]) for r in met}
    v1 = min(v for v, _ in by)
    v2 = max(v for v, _ in by)
    assert by[(v1, "pos_v")] == (2, 1, "drop")     # -1 dropped
    assert by[(v1, "warn_grp")] == (2, 1, "warn")  # NULL grp kept
    assert by[(v2, "pos_v")] == (1, 0, "drop")
    assert by[(v2, "warn_grp")] == (1, 0, "warn")
    # the event log aggregates with plain SQL (dashboard shape)
    eng.sql("SHOW EXPECTATION METRICS sexp") \
        .createOrReplaceTempView("sexp_events")
    agg = {r["name"]: (r["p"], r["f"]) for r in spark.sql(
        "SELECT name, SUM(passed) AS p, SUM(failed) AS f "
        "FROM sexp_events GROUP BY name").collect()}
    assert agg == {"pos_v": (3, 1), "warn_grp": (3, 1)}


def test_domain_metadata_roundtrip_checkpoint_and_occ(spark, tdir):
    """r14: Delta's domainMetadata writer feature — named, system-owned
    config blobs that ride the LOG.  Round-trip; checkpointed replay
    through a fresh handle; removal tombstone; writer-only protocol
    fencing (readers stay unfenced); OCC: concurrent commits touching
    the SAME domain conflict, different domains commute."""
    t = TxLogTable.create(spark, tdir, _df(spark, [(1, "a", 10)]))
    t.checkpoint_interval = 2
    t.set_domain_metadata("clustering.state", {"cols": ["k"]})   # v1
    t.set_domain_metadata("pipeline.watermark", {"epoch": 7})    # v2 + ckpt
    assert t.domain_metadata("clustering.state") == {"cols": ["k"]}
    assert t.domain_metadata() == {
        "clustering.state": {"cols": ["k"]},
        "pipeline.watermark": {"epoch": 7}}
    # writer-only feature fencing: listed in writerFeatures, reader
    # version untouched
    proto = t.protocol()
    assert "domainMetadata" in proto["writerFeatures"]
    assert "domainMetadata" not in proto.get("readerFeatures", [])

    # checkpointed: a fresh handle resolves the domain map from the
    # checkpoint at v2 (no full replay needed) and sees later commits
    t.append(_df(spark, [(2, "b", 20)]))                         # v3
    fresh = TxLogTable(spark, tdir)
    assert fresh.domain_metadata("pipeline.watermark") == {"epoch": 7}
    ckpt = fresh._best_checkpoint(fresh.latest_version())
    assert ckpt["version"] == 2 and "clustering.state" in ckpt["domains"]

    # update overwrites; removal tombstones (and replays as absent)
    t.set_domain_metadata("pipeline.watermark", {"epoch": 8})    # v4 + ckpt
    assert t.domain_metadata("pipeline.watermark") == {"epoch": 8}
    t.remove_domain_metadata("clustering.state")                 # v5
    assert t.domain_metadata("clustering.state") is None
    assert TxLogTable(spark, tdir).domain_metadata() == {
        "pipeline.watermark": {"epoch": 8}}
    with pytest.raises(KeyError):
        t.remove_domain_metadata("never.set")
    # time travel sees the pre-removal state
    assert t.domain_metadata("clustering.state", version=4) == \
        {"cols": ["k"]}

    # OCC: a commit computed against a stale base conflicts iff a
    # concurrent commit touched the SAME domain
    base = t.latest_version()
    other = TxLogTable(spark, tdir)
    other.set_domain_metadata("pipeline.watermark", {"epoch": 9})
    conflicting = [
        {"commit": {"op": "SET DOMAIN METADATA", "ts": t._next_ts(),
                    "domain": "pipeline.watermark"}},
        {"domainMetadata": {"domain": "pipeline.watermark",
                            "configuration": "{\"epoch\": 1}",
                            "removed": False}}]
    with pytest.raises(RuntimeError, match="metadata domain"):
        t._commit_with_occ(conflicting, [], base,
                           domains=["pipeline.watermark"])
    # disjoint domain commutes: same stale base, different domain
    t2 = TxLogTable(spark, tdir)
    base2 = t2.latest_version() - 1  # stale on purpose
    commuting = [
        {"commit": {"op": "SET DOMAIN METADATA", "ts": t2._next_ts(),
                    "domain": "other.domain"}},
        {"domainMetadata": {"domain": "other.domain",
                            "configuration": "{}", "removed": False}}]
    t2._commit_with_occ(commuting, [], base2, domains=["other.domain"])
    assert t2.domain_metadata("other.domain") == {}


def test_version_checksum_chain_validate_and_cleanup(spark, tdir):
    """r14: Delta-style version checksums (<v>.crc).  Every commit with
    txlog.checksum.enabled writes an incrementally-advanced state
    summary (file count, table bytes, DV targets, schema hash,
    protocol); checkpoint versions resync it from the manifest's exact
    state; validate_checksum recomputes and matches; tampering raises a
    field-named error; a chain gap reseeds via full recompute; cleanup
    collects pre-floor crc files with their commits."""
    import glob as _glob

    t = TxLogTable.create(spark, tdir, _df(
        spark, [(i, "ab"[i % 2], i * 10) for i in range(1, 9)]))
    t.checkpoint_interval = 3
    t.enable_checksums()                                         # v1
    assert os.path.exists(t._crc_path(1))
    t.append(_df(spark, [(9, "c", 90)]))                         # v2
    t.delete_where(F.col("k") <= 2)                              # v3 + ckpt
    t.delete_where(F.col("k") == 9, use_dv=True)                 # v4 (DV)
    for v in (1, 2, 3, 4):
        assert t.validate_checksum(v)["version"] == v
    crc4 = t._read_crc(4)
    assert crc4["numDvFiles"] == 1 and crc4["dvTargets"]
    assert crc4 == t._crc_state(4), "incremental chain drifted from full"
    t.reorg_purge()                                              # v5
    assert t.validate_checksum()["dvTargets"] == []

    # checkpoint resync: v6 is a checkpoint version — its crc is the
    # manifest's exact state even if the chain had drifted
    t.append(_df(spark, [(10, "d", 100)]))                       # v6 + ckpt
    assert t.validate_checksum(6) == t._read_crc(6)

    # tamper: a wrong stored count raises naming the field
    import json as _json
    doctored = dict(t._read_crc(6), numFiles=99)
    with open(t._crc_path(6), "w") as f:
        _json.dump(doctored, f)
    with pytest.raises(ValueError, match="numFiles"):
        t.validate_checksum(6)
    with open(t._crc_path(6), "w") as f:
        _json.dump(dict(doctored, numFiles=t._crc_state(6)["numFiles"]),
                   f)

    # chain gap: lose one crc; the NEXT commit reseeds from a full
    # recompute instead of silently skipping
    os.remove(t._crc_path(6))
    t.append(_df(spark, [(11, "e", 110)]))                       # v7
    assert t.validate_checksum(7)["version"] == 7

    # a version with no crc refuses loudly
    with pytest.raises(FileNotFoundError):
        t.validate_checksum(6)

    # log cleanup collects pre-floor crc files with their commits
    t.set_properties({"delta.enableExpiredLogCleanup": "false"})  # v8
    t.append(_df(spark, [(12, "f", 120)]))                       # v9 + ckpt
    victims = t.cleanup_metadata(retention_hours=0)
    floor = t._earliest_version()
    assert floor > 0
    crcs = sorted(_glob.glob(os.path.join(t.log_dir, "[0-9]*.crc")))
    assert crcs and all(
        int(os.path.basename(p).split(".")[0]) >= floor for p in crcs)
    assert any(p.endswith(".crc") for p in victims)
    # retained state still validates after the cleanup
    assert t.validate_checksum()["numFiles"] == \
        t._crc_state(t.latest_version())["numFiles"]


def test_dv_row_level_concurrency(spark, tdir):
    """Row-level conflict resolution for concurrent DV commits (Delta's
    row-level concurrency): disjoint row sets on the SAME file commute;
    an UPDATE conflicts with any concurrent tombstone of a row it
    touches (either direction would otherwise silently duplicate a
    post-image or resurrect a deleted row); delete x delete commutes
    even on overlap (tombstone unions are idempotent)."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(i, i * 10) for i in range(10)],
                              "k int, v int").repartition(1))
    orig = t._write_dv

    def racing(fn):
        def race(dv_df):
            rel = orig(dv_df)
            fn(TxLogTable(spark, t.path))
            return rel
        return race

    # disjoint update x update on the one shared file: both commit
    t._write_dv = racing(
        lambda r: r.update_where({"v": "v + 1000"}, F.col("k") == 1,
                                 use_dv=True))
    t.update_where({"v": "v + 100"}, F.col("k") == 0, use_dv=True)
    t._write_dv = orig
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[0] == 100 and rows[1] == 1010

    # overlapping update x update: loser raises, winner's value stands
    t._write_dv = racing(
        lambda r: r.update_where({"v": "v * 2"}, F.col("k") == 2,
                                 use_dv=True))
    with pytest.raises(RuntimeError,
                       match="concurrent commit conflict.*tombstoned row"):
        t.update_where({"v": "v + 5"}, F.col("k") == 2, use_dv=True)
    t._write_dv = orig
    assert {r["k"]: r["v"] for r in t.read().collect()}[2] == 40

    # update racing a concurrent DELETE of the same row: conflict
    # (committing the update would resurrect the deleted row)
    t._write_dv = racing(
        lambda r: r.delete_where(F.col("k") == 6, use_dv=True))
    with pytest.raises(RuntimeError,
                       match="concurrent commit conflict.*DELETE.*tombstoned"):
        t.update_where({"v": "v + 1"}, F.col("k") == 6, use_dv=True)
    t._write_dv = orig
    assert 6 not in {r["k"] for r in t.read().collect()}

    # delete racing a concurrent UPDATE of the same row: conflict
    # (committing the delete would only tombstone the PRE-image; the
    # update's post-image would survive as a lost delete)
    t._write_dv = racing(
        lambda r: r.update_where({"v": "v + 7"}, F.col("k") == 7,
                                 use_dv=True))
    with pytest.raises(RuntimeError,
                       match="concurrent commit conflict.*UPDATE.*tombstoned"):
        t.delete_where(F.col("k") == 7, use_dv=True)
    t._write_dv = orig
    assert {r["k"]: r["v"] for r in t.read().collect()}[7] == 77

    # overlapping delete x delete: tombstone unions commute — both
    # commit, the row goes exactly once
    t._write_dv = racing(
        lambda r: r.delete_where(F.col("k") == 5, use_dv=True))
    t.delete_where(F.col("k") == 5, use_dv=True)
    t._write_dv = orig
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [0, 1, 2, 3, 4, 7, 8, 9]


def test_uniform_files_and_manifests_tables(spark, tdir):
    """Iceberg ``files`` / ``manifests`` metadata tables over the
    UniForm export: per-file scan plan (content 0 data / 1 position
    deletes) and manifest-list health, both metadata-only; the AT
    SNAPSHOT form plans historical snapshots; unknown snapshot ids
    refuse loudly."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(i, i * 10) for i in range(40)],
                              "k int, v int").repartition(2))
    t.generate_iceberg_metadata()                    # snap 0
    t.delete_where(F.col("k") % 4 == 0, use_dv=True)  # v1 (MoR)
    t.generate_iceberg_metadata()                    # snap 1

    files = uniform.files_df(spark, t.path).collect()
    data = [r for r in files if r["content"] == 0]
    dels = [r for r in files if r["content"] == 1]
    assert len(data) == 2 and sum(r["record_count"] for r in data) == 40
    assert len(dels) == 1 and dels[0]["record_count"] == 10
    assert all(r["file_size_in_bytes"] > 0 for r in files)

    mans = uniform.manifests_df(spark, t.path).collect()
    assert sum(r["added_files_count"] + r["existing_files_count"]
               for r in mans if r["content"] == 0) == 2
    dm = [r for r in mans if r["content"] == 1]
    assert len(dm) == 1 and dm[0]["added_rows_count"] == 10
    assert all(r["manifest_length"] > 0 for r in mans)

    # historical snapshot: planned clean of delete files
    hist = uniform.files_df(spark, t.path, snapshot_id=0).collect()
    assert all(r["content"] == 0 for r in hist)
    assert sum(r["record_count"] for r in hist) == 40

    with pytest.raises(ValueError, match="snapshot 99"):
        uniform.manifests_df(spark, t.path, snapshot_id=99)

    # SQL routes serve the same shapes
    from distributed_database_for_sql_spark.engine import Engine
    engine = Engine(spark, "/root/testdata/sf0.001")
    engine.register_txlog("imt", t)
    got = engine.sql("SHOW ICEBERG FILES FOR TABLE imt AT SNAPSHOT 0")
    assert got.count() == 2
    got = engine.sql("SHOW ICEBERG MANIFESTS FOR TABLE imt").collect()
    assert {r["content"] for r in got} == {0, 1}


def test_uniform_tags_pin_snapshots(spark, tdir):
    """Iceberg refs over the UniForm export: tags pin snapshots
    (surviving refreshes AND expire_snapshots), read back via ref,
    release on drop; "main" always tracks the current snapshot;
    duplicate/unknown names refuse loudly."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(i, i * 10) for i in range(20)],
                              "k int, v int").repartition(2))
    t.generate_iceberg_metadata()                    # snap 0
    uniform.create_tag(t.path, "training_v1")        # pins snap 0
    with pytest.raises(ValueError, match="already exists"):
        uniform.create_tag(t.path, "training_v1")
    with pytest.raises(ValueError, match="snapshot 42"):
        uniform.create_tag(t.path, "nope", snapshot_id=42)

    t.delete_where(F.col("k") >= 10)                 # v1 (CoW)
    t.generate_iceberg_metadata()                    # snap 1
    t.append(spark.createDataFrame([(100, 1000)], "k int, v int"))
    t.generate_iceberg_metadata()                    # snap 2

    # the tag survives refreshes; main tracks the head
    assert uniform.resolve_ref(t.path, "training_v1") == 0
    assert uniform.resolve_ref(t.path, "main") == 2
    refs = {r["name"]: r for r in
            uniform.refs_df(spark, t.path).collect()}
    assert refs["training_v1"]["type"] == "tag"
    assert refs["main"]["type"] == "branch"

    # expiry never removes a tagged snapshot...
    uniform.expire_snapshots(t.path, keep_last=1)
    meta = uniform.current_metadata(t.path)
    assert {s["snapshot-id"] for s in meta["snapshots"]} == {0, 2}
    # ...and the pinned read reproduces the EXACT tagged dataset
    got = uniform.read_snapshot(spark, t.path, ref="training_v1")
    assert sorted(r["k"] for r in got.collect()) == list(range(20))
    with pytest.raises(ValueError, match="not both"):
        uniform.read_snapshot(spark, t.path, snapshot_id=2, ref="main")

    # drop releases the snapshot to normal expiry
    with pytest.raises(ValueError, match="engine-owned"):
        uniform.drop_tag(t.path, "main")
    uniform.drop_tag(t.path, "training_v1")
    with pytest.raises(KeyError):
        uniform.resolve_ref(t.path, "training_v1")
    uniform.expire_snapshots(t.path, keep_last=1)
    meta = uniform.current_metadata(t.path)
    assert {s["snapshot-id"] for s in meta["snapshots"]} == {2}

    # SQL routes
    from distributed_database_for_sql_spark.engine import Engine
    engine = Engine(spark, "/root/testdata/sf0.001")
    engine.register_txlog("tagt", t)
    engine.sql("CREATE ICEBERG TAG rel1 FOR TABLE tagt AT SNAPSHOT 2")
    shown = engine.sql("SHOW ICEBERG REFS FOR TABLE tagt").collect()
    assert {r["name"] for r in shown} == {"main", "rel1"}
    engine.sql("DROP ICEBERG TAG rel1 FOR TABLE tagt")
    assert uniform.refs_df(spark, t.path).count() == 1


def test_uniform_tag_survives_concurrent_refresh_race(spark, tdir):
    """TOCTOU guard on tag maintenance: a per-commit refresh that read
    the PRE-tag metadata advances the version hint right after the tag
    rewrite — without the verify-and-retry the tag (or the drop) is
    silently lost from the new current file."""
    from distributed_database_for_sql_spark.sources import uniform

    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([(i, i) for i in range(8)],
                              "k int, v int").repartition(1))
    t.generate_iceberg_metadata()                    # snap 0

    real = uniform._rewrite_metadata
    raced = {"n": 0}

    def race_once(meta, meta_path):
        if raced["n"] == 0:
            raced["n"] += 1
            # a concurrent writer commits + refreshes between our read
            # and our write: the new current metadata was built WITHOUT
            # the ref change we are about to persist
            t2 = TxLogTable(spark, t.path)
            t2.append(spark.createDataFrame([(100, 100)], "k int, v int"))
            t2.generate_iceberg_metadata()           # hint -> snap 1
        real(meta, meta_path)

    uniform._rewrite_metadata = race_once
    try:
        got = uniform.create_tag(t.path, "pinned")   # default: current
    finally:
        uniform._rewrite_metadata = real
    # the tag landed on the CURRENT file, still pinning the snapshot
    # resolved BEFORE the race (not silently re-targeted to the head)
    assert got == {"snapshot-id": 0, "type": "tag"}
    assert uniform.resolve_ref(t.path, "pinned") == 0
    assert uniform.resolve_ref(t.path, "main") == 1

    # same race on DROP: the refresh would carry the tag back
    raced["n"] = 0

    def race_drop(meta, meta_path):
        if raced["n"] == 0:
            raced["n"] += 1
            t2 = TxLogTable(spark, t.path)
            t2.append(spark.createDataFrame([(101, 101)], "k int, v int"))
            t2.generate_iceberg_metadata()           # hint -> snap 2
        real(meta, meta_path)

    uniform._rewrite_metadata = race_drop
    try:
        uniform.drop_tag(t.path, "pinned")
    finally:
        uniform._rewrite_metadata = real
    with pytest.raises(KeyError):
        uniform.resolve_ref(t.path, "pinned")


# -- the shared copy-on-write commit tail ------------------------------------

def test_refused_identity_writes_release_their_cache(spark, tdir):
    """A write refused AFTER identity assignment (here a CHECK
    violation) must not leave the identity write set cached: append,
    MERGE and APPLY CHANGES each pin it for the statement only."""
    t = TxLogTable.create(
        spark, tdir,
        spark.createDataFrame([("a", 10)], "grp string, v int"),
        identity_columns={"id": {"start": 1, "always": False}})
    t.add_constraint("v_pos", "v > 0")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    bad = spark.createDataFrame([(None, "b", -1)],
                                "id long, grp string, v int")
    with pytest.raises(ValueError, match="v_pos"):
        t.append(bad)
    with pytest.raises(ValueError, match="v_pos"):
        t.merge_upsert(bad, "grp")
    with pytest.raises(ValueError, match="v_pos"):
        t.apply_changes(spark.createDataFrame(
            [(None, "b", -1, 1, "insert")],
            "id long, grp string, v int, seq int, _change_type string"),
            key="grp", sequence_by="seq")
    assert cached().size() == before
    assert t.latest_version() == 1  # create + ADD CONSTRAINT only


def test_rewrite_commits_share_one_shape(spark, tdir):
    """Every file-rewriting statement commits through one tail: the
    commit record counts its own remove/add actions, and every
    remove/add path is table-relative."""
    t = TxLogTable.create(spark, tdir, _scd2_df(spark, [
        (1, 10, 0, None), (2, 20, 0, None), (3, 30, 0, None),
        (4, 40, 0, None)]), enable_cdf=True)
    versions = [
        t.delete_where(F.col("k") == 4),
        t.update_where({"v": "v + 1"}, F.col("k") == 1),
        t.merge_upsert(_scd2_df(spark, [(2, 21, 0, None),
                                        (5, 50, 0, None)]), "k"),
        t.merge_full(spark.createDataFrame([(3, 31)], "k int, v int"), "k",
                     when_matched=[{"action": "update",
                                    "set": {"v": "s.v"}}]),
        t.apply_changes(spark.createDataFrame(
            [(5, 51, 0, None, 1, "upsert")],
            "k int, v int, __START_AT int, __END_AT int, seq int, "
            "_change_type string"), key="k", sequence_by="seq"),
        t.apply_changes_scd2(_scd2_changes(
            spark, [(1, 12, 1, "update_postimage")]),
            key="k", sequence_by="seq"),
        t.optimize_compact(),
    ]
    t.delete_where(F.col("k") == 3, use_dv=True)
    versions.append(t.reorg_purge())
    ops = []
    for v in versions:
        actions = t._read_commit(v)
        commit = next(a["commit"] for a in actions if "commit" in a)
        ops.append(commit["op"])
        paths = {kind: [a[kind]["path"] for a in actions if kind in a]
                 for kind in ("remove", "add")}
        assert commit["filesRewritten"] == len(paths["remove"]) >= 1, commit
        assert commit["filesAdded"] == len(paths["add"]), commit
        for p in paths["remove"] + paths["add"]:
            assert not os.path.isabs(p) and not p.startswith(".."), p
    assert ops == ["DELETE", "UPDATE", "MERGE", "MERGE", "APPLY CHANGES",
                   "APPLY CHANGES SCD2", "OPTIMIZE", "REORG"]
    assert sorted((r["k"], r["v"], r["__END_AT"])
                  for r in t.read().collect()) == [
        (1, 11, 1), (1, 12, None), (2, 21, None), (5, 51, None)]
