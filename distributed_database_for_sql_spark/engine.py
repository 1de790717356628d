"""Engine shell: the SQL-command entry point and the ordered-apply contract.

The reference replicates opaque SQL-command strings through a Raft log and
delivers them, committed and in order, to an apply channel
(/root/reference/src/raft/node.go:35, src/raft/replication.go:88-103) —
but never executes them.  Here the same two contracts are provided
Spark-natively (SURVEY.md §1.3):

- `Engine.sql(cmd)` executes a command string against the registered
  catalog — the missing state machine the reference's log fed into.
- `CommandLog` gives the durability contract: commands appended to a log
  directory are applied exactly once, in order, surviving restarts —
  implemented with a checkpointed Structured Streaming `foreachBatch`
  (batch id ≙ commit index, checkpoint ≙ commitIndex/lastApplied
  persistence, which the reference notably lacks — SURVEY.md §2.B).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from . import TABLES
from .catalog import register_views

# Delta-style MERGE statement routed to the native txlog table format
# (sources/txlog.py).  v1 surface: whole-row upsert with an equi-key —
#   MERGE INTO t USING u ON t.k = u.k
#   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
# exactly the DML shape the reference's replicated command strings carry
# (/root/reference/src/raft/node.go:16-19 passes opaque SQL through the
# log; here the statement lands on an ACID table instead of nowhere).
_ON_EQS = r"\w+\.\w+\s*=\s*\w+\.\w+(?:\s+AND\s+\w+\.\w+\s*=\s*\w+\.\w+)*"
_MERGE_RE = re.compile(
    r"MERGE\s+INTO\s+(?P<target>\w+)(?:\s+AS\s+(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>\w+)(?:\s+AS\s+(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>" + _ON_EQS + r")"
    r"\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*"
    r"\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*",
    re.IGNORECASE)
_ON_EQ_RE = re.compile(
    r"^(?P<q1>\w+)\.(?P<k1>\w+)\s*=\s*(?P<q2>\w+)\.(?P<k2>\w+)$")

# Full-clause MERGE (Delta's three-arm statement): ordered WHEN MATCHED
# [AND cond] THEN UPDATE SET …/DELETE, WHEN NOT MATCHED [AND cond] THEN
# INSERT, WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE.
# The simple upsert shape above stays the fast path (merge_upsert); this
# grammar routes everything else to TxLogTable.merge_full.  v1 parser
# limitation: clause conditions may not contain CASE…WHEN…THEN (the
# clause splitter keys on WHEN/THEN keywords).
_MERGE_HEAD_RE = re.compile(
    r"MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    r"INTO\s+(?P<target>\w+)(?:\s+AS\s+(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>\w+)(?:\s+AS\s+(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>" + _ON_EQS + r")"
    r"\s+(?P<clauses>WHEN\s+.+?)",
    re.IGNORECASE | re.DOTALL)
_MERGE_CLAUSE_START_RE = re.compile(
    r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.IGNORECASE)
_MERGE_CLAUSE_RE = re.compile(
    r"^WHEN\s+(?P<kind>MATCHED|NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED)"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+(?P<action>.+?)\s*$",
    re.IGNORECASE | re.DOTALL)
_MERGE_ACT_UPDATE_STAR_RE = re.compile(r"^UPDATE\s+SET\s+\*$",
                                       re.IGNORECASE)
_MERGE_ACT_UPDATE_RE = re.compile(r"^UPDATE\s+SET\s+(?P<sets>.+)$",
                                  re.IGNORECASE | re.DOTALL)
_MERGE_ACT_DELETE_RE = re.compile(r"^DELETE$", re.IGNORECASE)
_MERGE_ACT_INSERT_STAR_RE = re.compile(r"^INSERT\s+\*$", re.IGNORECASE)
_MERGE_ACT_INSERT_RE = re.compile(
    r"^INSERT\s*\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)\s*"
    r"VALUES\s*\(\s*(?P<vals>.+?)\s*\)$",
    re.IGNORECASE | re.DOTALL)

# UPDATE t SET c1 = expr[, c2 = expr ...] [WHERE cond] — copy-on-write
# update on a registered txlog table.  The body splits at the first
# top-level WHERE, then the assignments at top-level commas (a WHERE or
# comma inside parentheses or a string literal stays put).
_UPDATE_RE = re.compile(
    r"UPDATE\s+(?P<target>\w+)\s+SET\s+(?P<body>.+)",
    re.IGNORECASE | re.DOTALL)
_WHERE_KW_RE = re.compile(r"\s+WHERE\s+", re.IGNORECASE)

# DELETE FROM t [WHERE cond] — copy-on-write delete on a txlog table
# (no WHERE = delete all rows, Delta semantics).
_DELETE_RE = re.compile(
    r"DELETE\s+FROM\s+(?P<target>\w+)"
    r"(?:\s+WHERE\s+(?P<cond>.+?))?",
    re.IGNORECASE | re.DOTALL)

# INSERT INTO t SELECT ... / INSERT INTO t VALUES (...) — append commit
# on a registered txlog table (catalog/parquet tables keep the plain
# spark.sql fallback).
_INSERT_RE = re.compile(
    r"INSERT\s+INTO\s+(?P<target>\w+)\s*"
    r"(?:\(\s*(?!SELECT\b|VALUES\b|WITH\b|TABLE\b)"
    r"(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)\s*)?"
    r"(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.+)",
    re.IGNORECASE | re.DOTALL)

# INSERT OVERWRITE t [PARTITION (p = v)] SELECT ... — atomic replace of
# the table (or one partition, Delta's replaceWhere shape).
_INSERT_OVERWRITE_RE = re.compile(
    r"INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(?P<target>\w+)"
    r"(?:\s+PARTITION\s*\(\s*(?P<pcol>\w+)\s*=\s*"
    r"'?(?P<pval>[\w.-]+)'?\s*\))?"
    r"\s+(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.+)",
    re.IGNORECASE | re.DOTALL)

# CREATE TABLE t (col TYPE, ...) USING TXLOG [LOCATION '...'] — empty
# ACID table DDL (the COPY INTO landing-table shape).
_CREATE_EMPTY_RE = re.compile(
    r"CREATE\s+TABLE\s+(?P<name>\w+)\s*"
    r"\((?P<cols>.+)\)\s*USING\s+TXLOG"
    r"(?:\s+LOCATION\s+'(?P<loc>[^']+)')?",
    re.IGNORECASE | re.DOTALL)

# RESTORE TABLE t TO VERSION AS OF n / TO TIMESTAMP AS OF ms|'iso' —
# rollback-as-new-commit (timestamp resolves via version_at_timestamp).
_RESTORE_RE = re.compile(
    r"RESTORE\s+TABLE\s+(?P<target>\w+)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>\d+|'[^']*'))",
    re.IGNORECASE)

# DESCRIBE DETAIL t — table metadata as a result set (Delta's shape).
_DETAIL_RE = re.compile(
    r"DESCRIBE\s+DETAIL\s+(?P<target>\w+)", re.IGNORECASE)

# FSCK REPAIR TABLE t [DRY RUN] — drop log references to missing files.
_FSCK_RE = re.compile(
    r"FSCK\s+REPAIR\s+TABLE\s+(?P<target>\w+)"
    r"(?P<dry>\s+DRY\s+RUN)?", re.IGNORECASE)

# table_changes('t', start[, end]) — Delta's CDF table-valued function,
# rewritten to a temp view of read_changes on the plain-SQL fallback.
# Operands: integer versions or quoted ISO timestamps.
_TABLE_CHANGES_RE = re.compile(
    r"table_changes\s*\(\s*'(?P<t>\w+)'\s*,\s*"
    r"(?P<a>\d+|'[^']*')\s*(?:,\s*(?P<b>\d+|'[^']*'))?\s*\)",
    re.IGNORECASE)

# VACUUM t [RETAIN n HOURS] [DRY RUN] — physical cleanup of
# unreferenced files; DRY RUN lists candidates and touches nothing.
_VACUUM_RE = re.compile(
    r"VACUUM\s+(?P<target>\w+)"
    r"(?:\s+(?P<lite>LITE))?"
    r"(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?",
    re.IGNORECASE)

# ALTER TABLE t ADD CONSTRAINT name CHECK (expr) / DROP CONSTRAINT name
# — write-time-enforced CHECK constraints on a txlog table.
_ADD_CONSTRAINT_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+CHECK\s*\((?P<expr>.+)\)",
    re.IGNORECASE | re.DOTALL)
_DROP_CONSTRAINT_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+DROP\s+CONSTRAINT\s+"
    r"(?P<name>\w+)",
    re.IGNORECASE)

# ALTER TABLE t ADD CONSTRAINT name EXPECT (pred)
# [ON VIOLATION DROP ROW | ON VIOLATION FAIL UPDATE] — DLT expectations:
# data-quality gates on every ingest, pass/fail metrics per commit.
_ADD_EXPECTATION_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+EXPECT\s*\((?P<expr>.+)\)\s*"
    r"(?:ON\s+VIOLATION\s+(?P<viol>DROP\s+ROW|FAIL\s+UPDATE))?",
    re.IGNORECASE | re.DOTALL)

# SHOW EXPECTATIONS t — the table's declared data-quality gates (name,
# predicate, violation action) as a result set; SHOW EXPECTATION
# METRICS t — the recorded per-commit pass/fail counts as a queryable
# event log (DLT's data-quality dashboard shape: one row per
# (commit, expectation), aggregable with plain SQL).
_SHOW_EXPECTATIONS_RE = re.compile(
    r"SHOW\s+EXPECTATIONS\s+(?P<target>\w+)",
    re.IGNORECASE)
_SHOW_EXP_METRICS_RE = re.compile(
    r"SHOW\s+EXPECTATION\s+METRICS\s+(?P<target>\w+)",
    re.IGNORECASE)

# ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...) / UNSET TBLPROPERTIES
# ('k', ...) and SHOW TBLPROPERTIES t — Delta table properties.
_SET_PROPS_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<kvs>.+)\)",
    re.IGNORECASE | re.DOTALL)
_UNSET_PROPS_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+UNSET\s+TBLPROPERTIES\s*"
    r"(?:IF\s+EXISTS\s*)?\((?P<keys>.+)\)",
    re.IGNORECASE | re.DOTALL)
_SHOW_PROPS_RE = re.compile(
    r"SHOW\s+TBLPROPERTIES\s+(?P<target>\w+)",
    re.IGNORECASE)
# SHOW PARTITIONS t — the partitions present in the CURRENT snapshot,
# resolved from commit metadata (partitionValues) without opening a file.
_SHOW_PARTS_RE = re.compile(
    r"SHOW\s+PARTITIONS\s+(?P<target>\w+)",
    re.IGNORECASE)
_PROP_KV_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")
_PROP_KEY_RE = re.compile(r"'(?P<k>[^']+)'")

# ALTER TABLE t RENAME COLUMN a TO b / DROP COLUMN a — metadata-only
# schema changes via column mapping (no file rewritten).
_RENAME_COLUMN_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>\w+)\s+TO\s+(?P<new>\w+)",
    re.IGNORECASE)

# ALTER TABLE t ADD COLUMN c TYPE — metadata-only schema addition
# (nullable; existing rows read typed NULL until a write materializes).
_ADD_COLUMN_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ADD\s+COLUMNS?\s*\(?\s*"
    r"(?P<name>\w+)\s+(?P<dtype>[\w()<>,\s]+?)\s*\)?",
    re.IGNORECASE)
_DROP_COLUMN_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+DROP\s+COLUMN\s+"
    r"(?P<name>\w+)",
    re.IGNORECASE)

# ALTER TABLE t ALTER COLUMN c TYPE <wider> — metadata-only type widening
# (Delta's type-widening table feature; old segments read wide in place).
_ALTER_TYPE_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ALTER\s+COLUMN\s+"
    r"(?P<name>\w+)\s+TYPE\s+(?P<dtype>[\w()<>,\s]+?)",
    re.IGNORECASE)

# ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> / DROP DEFAULT —
# defaults apply to writes that omit the column (never to existing rows).
_SET_DEFAULT_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ALTER\s+COLUMN\s+"
    r"(?P<name>\w+)\s+SET\s+DEFAULT\s+(?P<expr>.+?)",
    re.IGNORECASE | re.DOTALL)
_DROP_DEFAULT_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ALTER\s+COLUMN\s+"
    r"(?P<name>\w+)\s+DROP\s+DEFAULT",
    re.IGNORECASE)

# CREATE MATERIALIZED VIEW mv AS SELECT <groups + COUNT(*)/SUM(expr) AS
# alias...> FROM <txlog table> GROUP BY <groups> — an INCREMENTALLY
# maintained aggregate stored as its own ACID txlog table.
_CREATE_MV_RE = re.compile(
    r"CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s+AS\s+"
    r"SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<src>\w+)"
    r"(?P<joins>(?:\s+JOIN\s+\w+\s+ON\s+\w+\.\w+\s*=\s*\w+\.\w+)*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s+"
    r"GROUP\s+BY\s+(?P<group>\w+(?:\s*,\s*\w+)*)",
    re.IGNORECASE | re.DOTALL)

# one JOIN clause inside _CREATE_MV_RE's joins blob
_MV_JOIN_RE = re.compile(
    r"JOIN\s+(?P<dim>\w+)\s+ON\s+(?P<lt>\w+)\.(?P<lc>\w+)\s*=\s*"
    r"(?P<rt>\w+)\.(?P<rc>\w+)", re.IGNORECASE)

# REFRESH MATERIALIZED VIEW mv — fold the source's CDF since the last
# refreshed version into the stored aggregate (cost ∝ change volume).
_REFRESH_MV_RE = re.compile(
    r"REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)"
    r"(?:\s+(?P<full>FULL))?",
    re.IGNORECASE)

# DROP MATERIALIZED VIEW mv — deregister and delete the MV's storage
# (plain tables refuse: DROP of a base table is out of scope).
_DROP_MV_RE = re.compile(
    r"DROP\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)",
    re.IGNORECASE)

# SHOW MATERIALIZED VIEWS — every registered MV with its source, fold
# position, and staleness (source commits not yet folded).
_SHOW_MV_RE = re.compile(
    r"SHOW\s+MATERIALIZED\s+VIEWS", re.IGNORECASE)

# GENERATE symlink_format_manifest FOR TABLE t — external-reader interop
# (Presto/Trino/Athena/DuckDB read the listed files without the log).
# GENERATE iceberg_metadata FOR TABLE t — UniForm-shape Iceberg metadata
# export (metadata.json + manifests over the same parquet, zero copies).
_GENERATE_RE = re.compile(
    r"GENERATE\s+(?P<kind>symlink_format_manifest|iceberg_metadata)"
    r"\s+FOR\s+TABLE\s+(?P<target>\w+)", re.IGNORECASE)

# EXPIRE SNAPSHOTS FOR TABLE t KEEP LAST n — Iceberg-side maintenance
# over the UniForm export (sources/uniform.py): bound the exported
# snapshot list like cleanup_metadata bounds the Delta log.
_EXPIRE_SNAPSHOTS_RE = re.compile(
    r"EXPIRE\s+SNAPSHOTS\s+FOR\s+TABLE\s+(?P<target>\w+)\s+"
    r"KEEP\s+LAST\s+(?P<n>\d+)", re.IGNORECASE)

# SHOW ICEBERG SNAPSHOTS FOR TABLE t — the operator's view of the
# UniForm export (Iceberg's snapshots metadata table): one row per
# exported snapshot with its summary counters, metadata-only.
_SHOW_ICEBERG_SNAPSHOTS_RE = re.compile(
    r"SHOW\s+ICEBERG\s+SNAPSHOTS\s+FOR\s+TABLE\s+(?P<target>\w+)",
    re.IGNORECASE)

# SHOW ICEBERG FILES|MANIFESTS FOR TABLE t [AT SNAPSHOT n] — the other
# two Iceberg metadata tables over the UniForm export: per-file scan
# plan (files) and manifest-list health (manifests), both metadata-only.
_SHOW_ICEBERG_PLAN_RE = re.compile(
    r"SHOW\s+ICEBERG\s+(?P<what>FILES|MANIFESTS)\s+FOR\s+TABLE\s+"
    r"(?P<target>\w+)(?:\s+AT\s+SNAPSHOT\s+(?P<sid>\d+))?",
    re.IGNORECASE)

# CREATE/DROP ICEBERG TAG name FOR TABLE t [AT SNAPSHOT n] and
# SHOW ICEBERG REFS FOR TABLE t — Iceberg refs over the UniForm
# export: tags pin snapshots (dataset versioning for reproducible
# reads; expire_snapshots never removes a tagged snapshot).
_ICEBERG_TAG_RE = re.compile(
    r"(?P<verb>CREATE|DROP)\s+ICEBERG\s+TAG\s+(?P<name>\w+)\s+"
    r"FOR\s+TABLE\s+(?P<target>\w+)(?:\s+AT\s+SNAPSHOT\s+(?P<sid>\d+))?",
    re.IGNORECASE)
_SHOW_ICEBERG_REFS_RE = re.compile(
    r"SHOW\s+ICEBERG\s+REFS\s+FOR\s+TABLE\s+(?P<target>\w+)",
    re.IGNORECASE)

# APPLY CHANGES INTO t FROM src KEYS (k, ...) [APPLY AS DELETE WHEN pred]
# SEQUENCE BY seq [COLUMNS * EXCEPT (op, ...)] [STORED AS SCD TYPE 1|2]
# [TRACK HISTORY ON * EXCEPT (c, ...)] — the DLT CDC statement over the
# engine's apply_changes / apply_changes_scd2 folds.
_APPLY_CHANGES_RE = re.compile(
    r"APPLY\s+CHANGES\s+INTO\s+(?P<target>\w+)\s+"
    r"FROM\s+(?P<src>\w+)\s+"
    r"KEYS\s*\((?P<keys>[^)]+)\)\s*"
    r"(?:(?P<ignulls>IGNORE\s+NULL\s+UPDATES)\s+)?"
    r"(?:APPLY\s+AS\s+DELETE\s+WHEN\s+(?P<asdel>.+?)\s+)?"
    r"SEQUENCE\s+BY\s+(?P<seq>\w+)"
    r"(?:\s+COLUMNS\s+\*\s+EXCEPT\s*\((?P<dropcols>[^)]+)\))?"
    r"(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+(?P<scd>[12]))?"
    r"(?:\s+TRACK\s+HISTORY\s+ON\s+\*\s+EXCEPT\s*"
    r"\((?P<thex>[^)]+)\))?",
    re.IGNORECASE | re.DOTALL)

# APPLY CHANGES INTO t FROM SNAPSHOT src VERSION n KEYS (k, ...)
# [STORED AS SCD TYPE 1|2] [TRACK HISTORY ON * EXCEPT (c, ...)] — the
# second DLT CDC ingestion mode: src is a FULL source snapshot (not a
# change feed); the engine diffs it against the target's current state
# to derive insert/update/delete events and folds them at sequence n.
_APPLY_SNAPSHOT_RE = re.compile(
    r"APPLY\s+CHANGES\s+INTO\s+(?P<target>\w+)\s+"
    r"FROM\s+SNAPSHOT\s+(?P<src>\w+)\s+"
    r"VERSION\s+(?P<ver>\d+)\s+"
    r"KEYS\s*\((?P<keys>[^)]+)\)"
    r"(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+(?P<scd>[12]))?"
    r"(?:\s+TRACK\s+HISTORY\s+ON\s+\*\s+EXCEPT\s*"
    r"\((?P<thex>[^)]+)\))?",
    re.IGNORECASE | re.DOTALL)

# ALTER TABLE t DROP FEATURE name — protocol downgrade once the feature's
# on-disk state is provably absent (live DVs refuse; REORG PURGE first).
_DROP_FEATURE_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+DROP\s+FEATURE\s+"
    r"(?P<name>\w+)", re.IGNORECASE)

# ALTER TABLE t ALTER COLUMN c SET NOT NULL / DROP NOT NULL — column
# invariant: SET validates existing data (one scan, refused on NULLs),
# then every write enforces it; DROP is metadata-only.
_NOT_NULL_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+ALTER\s+COLUMN\s+"
    r"(?P<name>\w+)\s+(?P<action>SET|DROP)\s+NOT\s+NULL",
    re.IGNORECASE)

# ALTER TABLE t CLUSTER BY (a, b) / CLUSTER BY NONE — liquid-clustering
# metadata; plain OPTIMIZE re-clusters on the recorded columns.
_CLUSTER_BY_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<target>\w+)\s+CLUSTER\s+BY\s+"
    r"(?:NONE|\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\))",
    re.IGNORECASE)

# OPTIMIZE t [WHERE pcol = v] [ZORDER BY (a, b)] — compaction (optionally
# scoped to one partition, Delta's incremental-OPTIMIZE shape) /
# multi-dimensional layout.
_OPTIMIZE_RE = re.compile(
    r"OPTIMIZE\s+(?P<target>\w+)"
    r"(?:\s+WHERE\s+(?P<wcol>\w+)\s*=\s*'?(?P<wval>[\w.-]+)'?)?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[\w\s,]+)\))?",
    re.IGNORECASE)

# COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON — idempotent
# bulk file ingest (each source file loaded at most once ever).
_COPY_INTO_RE = re.compile(
    r"COPY\s+INTO\s+(?P<target>\w+)\s+FROM\s+'(?P<src>[^']+)'"
    r"\s+FILEFORMAT\s*=\s*(?P<fmt>\w+)",
    re.IGNORECASE)

# REORG TABLE t APPLY (PURGE) — rewrite only the DV'd segments,
# materializing deletion-vector tombstones (Delta's REORG ... PURGE).
_REORG_RE = re.compile(
    r"REORG\s+TABLE\s+(?P<target>\w+)\s+APPLY\s*\(\s*PURGE\s*\)",
    re.IGNORECASE)

# t VERSION AS OF n / t TIMESTAMP AS OF ms — time travel inside DQL
# (Delta's SELECT syntax).  Rewritten to a temp view of the versioned
# snapshot before the statement reaches Spark SQL.
_TIME_TRAVEL_RE = re.compile(
    r"\b(?P<t>\w+)\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<v>\d+|'[^']*')", re.IGNORECASE)

# single-quoted SQL string literal ('' = escaped quote); used to keep the
# time-travel rewrite away from literal contents (ADVICE r6)
_SQL_STRING_RE = re.compile(r"'(?:[^']|'')*'")

# BEGIN; stmt; …; COMMIT — multi-statement transaction script: the txlog
# effects of every statement land as ONE commit per table.
_BEGIN_RE = re.compile(r"BEGIN(?:\s*;.*)?", re.IGNORECASE | re.DOTALL)

# DESCRIBE HISTORY t — the commit log as a result set (Delta's DESCRIBE
# HISTORY shape: version, op, timestamp + op metrics as JSON).
_HISTORY_RE = re.compile(
    r"DESCRIBE\s+HISTORY\s+(?P<target>\w+)", re.IGNORECASE)

# CREATE [OR REPLACE] TABLE dest (SHALLOW|DEEP) CLONE src [VERSION AS OF n]
# — clone of a registered txlog table; dest registers under the new name,
# rooted next to the source (dir name = dest table name).  SHALLOW is
# zero-copy (by-reference); DEEP copies segment bytes executor-side.
# CREATE OR REPLACE on an EXISTING pristine deep clone of the same source
# is the Databricks re-clone idiom: it runs the INCREMENTAL refresh
# (only segments new since the recorded sourceVersion are copied).
_CLONE_RE = re.compile(
    r"CREATE\s+(?:(?P<replace>OR\s+REPLACE)\s+)?TABLE\s+(?P<dest>\w+)\s+"
    r"(?P<mode>SHALLOW|DEEP)\s+CLONE\s+"
    r"(?P<src>\w+)(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?",
    re.IGNORECASE)

# CREATE TABLE t USING TXLOG [LOCATION '...'] AS SELECT ... — CTAS into a
# NEW ACID txlog table (Delta's CREATE TABLE ... USING DELTA AS SELECT),
# registered under the name so later DQL/DML statements target it.
_CTAS_TXLOG_RE = re.compile(
    r"CREATE\s+(?:(?P<replace>OR\s+REPLACE)\s+)?TABLE\s+(?P<name>\w+)"
    r"\s+USING\s+TXLOG"
    r"(?:\s+LOCATION\s+'(?P<loc>[^']+)')?"
    r"\s+AS\s+(?P<select>SELECT\b.+)",
    re.IGNORECASE | re.DOTALL)


class Engine:
    """Thin session wrapper: catalog registration + SQL execution."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = register_views(spark, sf_dir, TABLES)
        self.txlog_tables: dict[str, object] = {}

    @staticmethod
    def _public_view(df: DataFrame) -> DataFrame:
        """The SQL-visible projection of a table snapshot: hidden MV
        maintenance state (``__mv_*`` non-NULL counters / running sums)
        stays out of SELECT results; ``read()`` on the TxLogTable still
        exposes everything for the refresh fold."""
        internal = [c for c in df.columns if c.startswith("__mv_")]
        return df.drop(*internal) if internal else df

    def register_txlog(self, name: str, table) -> None:
        """Expose a TxLogTable under ``name``: SELECTs see its current
        snapshot as a temp view, and MERGE INTO statements route to its
        ACID merge_upsert."""
        self.txlog_tables[name] = table
        self._refresh_view(name, table)

    def _refresh_view(self, name: str, table) -> None:
        """Point the temp view ``name`` at ``table``'s current snapshot."""
        self._public_view(table.read()).createOrReplaceTempView(name)

    def sql(self, command: str) -> DataFrame:
        """Execute one SQL command (DQL/DDL on temp views; MERGE INTO on
        registered txlog tables), or a ``BEGIN; …; COMMIT`` script —
        several statements whose txlog effects land atomically as ONE
        commit per table (the reference's log carries arbitrary
        statement sequences; this is their ACID batching).

        The statement, stripped of surrounding whitespace and one
        trailing ``;``, goes to the first ``_ROUTES`` row that takes it;
        anything else runs as plain Spark SQL after the time-travel and
        table_changes rewrites."""
        stmt = command.strip().removesuffix(";").rstrip()
        for pattern, guard, handler in _ROUTES:
            m = pattern.fullmatch(stmt)
            if m and (guard is None or m[guard] in self.txlog_tables):
                return handler(self, m)
        return self.spark.sql(
            self._rewrite_table_changes(self._rewrite_time_travel(command)))

    def _insert_overwrite(self, m: re.Match) -> DataFrame:
        target = m["target"]
        t = self.txlog_tables[target]
        df = self.spark.sql(self._rewrite_time_travel(m["query"]))
        table_cols = t.read().columns
        ident = t._identity_columns()
        expect = [c for c in table_cols if c not in ident]
        if len(df.columns) != len(expect):
            raise ValueError(
                f"INSERT OVERWRITE {target}: query produces "
                f"{len(df.columns)} column(s), table expects "
                f"{len(expect)}")
        parts = {m["pcol"]: m["pval"]} if m["pcol"] else None
        version = t.insert_overwrite(df.toDF(*expect), partitions=parts)
        return self._dml_ack(target, version)

    def _create_empty(self, m: re.Match) -> DataFrame:
        from .sources.txlog import TxLogTable
        from .tmpstage import staging_dir

        name = m["name"]
        if name in self.txlog_tables:
            raise ValueError(f"txlog table {name!r} already registered")
        loc = m["loc"] or staging_dir(f"engine_create_{name}", self.sf_dir)
        empty = self.spark.createDataFrame([], m["cols"])
        t = TxLogTable.create(self.spark, loc, empty,
                              overwrite=m["loc"] is None)
        self.register_txlog(name, t)
        return self._table_ack(name, loc, t)

    def _table_ack(self, name: str, loc: str, table) -> DataFrame:
        """The (table_name, location, version) ack of a created table."""
        return self.spark.createDataFrame(
            [(name, loc, table.latest_version())],
            "table_name string, location string, version long")

    def _detail(self, m: re.Match) -> DataFrame:
        d = self.txlog_tables[m["target"]].detail()
        return self.spark.createDataFrame(
            [(m["target"], d["location"], d["version"], d["numFiles"],
              d["sizeInBytes"], ",".join(d["partitionColumns"]),
              d["columnMappingMode"],
              json.dumps(d["protocol"], sort_keys=True))],
            "table_name string, location string, version long, "
            "num_files long, size_in_bytes long, "
            "partition_columns string, column_mapping_mode string, "
            "protocol string")

    def _fsck(self, m: re.Match) -> DataFrame:
        target = m["target"]
        t = self.txlog_tables[target]
        dry = m["dry"] is not None
        missing = t.repair(dry_run=dry)
        if not dry:
            self._refresh_view(target, t)
        return self.spark.createDataFrame(
            [(target, len(missing), dry)],
            "table_name string, missing_files long, dry_run boolean")

    def _vacuum(self, m: re.Match) -> DataFrame:
        target = m["target"]
        hours = float(m["hours"]) if m["hours"] is not None else 24.0
        dry = m["dry"] is not None
        removed = self.txlog_tables[target].vacuum(
            hours * 3600.0, dry_run=dry, lite=m["lite"] is not None)
        return self.spark.createDataFrame(
            [(target, len(removed), dry)],
            "table_name string, files_removed long, dry_run boolean")

    def _refresh_mv(self, m: re.Match) -> DataFrame:
        return self.refresh_materialized_view(
            m["name"], full=m["full"] is not None)

    def _show_mvs(self, m: re.Match) -> DataFrame:
        rows = []
        for name, t in sorted(self.txlog_tables.items()):
            props = t.properties()
            if "mv.source" not in props:
                continue
            src = self.txlog_tables.get(props["mv.source"])
            last = t.txn_version_for(f"mv::{name}")
            cur = src.latest_version() if src is not None else -1
            rows.append((name, props["mv.source"], props["mv.groupBy"],
                         int(last), int(cur),
                         max(0, cur - last) if src is not None else -1))
        return self.spark.createDataFrame(
            rows, "view_name string, source string, group_by string, "
                  "folded_source_version long, source_version long, "
                  "stale_commits long")

    def _drop_mv(self, m: re.Match) -> DataFrame:
        import shutil

        name = m["name"]
        mv = self.txlog_tables[name]
        if "mv.source" not in mv.properties():
            raise ValueError(
                f"{name!r} is not a materialized view; DROP of a "
                "base table is out of scope")
        self.spark.catalog.dropTempView(name)
        del self.txlog_tables[name]
        shutil.rmtree(mv.path, ignore_errors=True)
        return self.spark.createDataFrame(
            [(name, True)], "table_name string, dropped boolean")

    def _apply_snapshot(self, m: re.Match) -> DataFrame:
        version = self.txlog_tables[m["target"]].apply_changes_from_snapshot(
            self.spark.table(m["src"]), key=_names(m["keys"]),
            snapshot_version=int(m["ver"]), scd_type=int(m["scd"] or 1),
            track_history_except_columns=_names(m["thex"]))
        return self._dml_ack(m["target"], version)

    def _generate(self, m: re.Match) -> DataFrame:
        t = self.txlog_tables[m["target"]]
        path = (t.generate_iceberg_metadata()
                if m["kind"].lower() == "iceberg_metadata"
                else t.generate_manifest())
        return self.spark.createDataFrame(
            [(m["target"], path)], "table_name string, manifest string")

    def _expire_snapshots(self, m: re.Match) -> DataFrame:
        from .sources import uniform

        victims = uniform.expire_snapshots(
            self.txlog_tables[m["target"]].path, keep_last=int(m["n"]))
        return self.spark.createDataFrame(
            [(m["target"], len(victims))],
            "table_name string, expired_metadata_files int")

    def _show_iceberg_snapshots(self, m: re.Match) -> DataFrame:
        from .sources import uniform

        return uniform.snapshots_df(
            self.spark, self.txlog_tables[m["target"]].path)

    def _show_iceberg_plan(self, m: re.Match) -> DataFrame:
        from .sources import uniform

        fn = (uniform.files_df if m["what"].upper() == "FILES"
              else uniform.manifests_df)
        return fn(self.spark, self.txlog_tables[m["target"]].path,
                  snapshot_id=int(m["sid"]) if m["sid"] else None)

    def _iceberg_tag(self, m: re.Match) -> DataFrame:
        from .sources import uniform

        path = self.txlog_tables[m["target"]].path
        if m["verb"].upper() == "CREATE":
            sid = uniform.create_tag(
                path, m["name"],
                snapshot_id=int(m["sid"]) if m["sid"] else None,
            )["snapshot-id"]
        else:
            sid = uniform.resolve_ref(path, m["name"])
            uniform.drop_tag(path, m["name"])
        return self.spark.createDataFrame(
            [(m["name"], int(sid))], "name string, snapshot_id bigint")

    def _show_iceberg_refs(self, m: re.Match) -> DataFrame:
        from .sources import uniform

        return uniform.refs_df(
            self.spark, self.txlog_tables[m["target"]].path)

    def _set_props(self, m: re.Match) -> DataFrame:
        target = m["target"]
        props = {kv["k"]: kv["v"] for kv in _PROP_KV_RE.finditer(m["kvs"])}
        if not props:
            raise ValueError("SET TBLPROPERTIES needs 'key' = 'value' pairs")
        t = self.txlog_tables[target]
        # Delta's enablement property: backfills baseRowIds for the
        # existing files (its own metadata commit), then any other
        # keys land as an ordinary property merge.
        if props.pop("delta.enableRowTracking", "").lower() == "true":
            version = t.enable_row_tracking()
            if not props:
                return self._dml_ack(target, version)
        # Delta's feature-enablement properties:
        # 'delta.feature.<name>' = 'supported' → protocol commit
        feat_keys = [k for k in props if k.startswith("delta.feature.")]
        version = None
        for k in feat_keys:
            if props.pop(k).lower() != "supported":
                raise ValueError(
                    f"{k}: the only valid value is 'supported'")
            version = t.add_feature(k[len("delta.feature."):])
        if props or version is None:
            version = t.set_properties(props)
        return self._dml_ack(target, version)

    def _show_props(self, m: re.Match) -> DataFrame:
        props = self.txlog_tables[m["target"]].properties()
        return self.spark.createDataFrame(
            sorted(props.items()) or [], "key string, value string")

    def _show_expectations(self, m: re.Match) -> DataFrame:
        exps = self.txlog_tables[m["target"]].expectations()
        rows = [(n, s["expr"], s["action"]) for n, s in sorted(exps.items())]
        return self.spark.createDataFrame(
            rows or [], "name string, expr string, action string")

    def _show_exp_metrics(self, m: re.Match) -> DataFrame:
        # the per-commit pass/fail metrics recorded by the ingest gates,
        # exploded one row per (commit, expectation) — a queryable event
        # log: cumulative dashboards are a GROUP BY name away, trend
        # lines a GROUP BY version.  Metadata-scale (reads commit info
        # only, never data files).
        hist = self.txlog_tables[m["target"]].history()
        rows = [(h["version"], h["op"], h["ts"], name,
                 mm["action"], mm["passed"], mm["failed"])
                for h in hist
                for name, mm in sorted(h.get("expectations", {}).items())]
        return self.spark.createDataFrame(
            rows or [],
            "version long, operation string, timestamp_ms long, "
            "name string, action string, passed long, failed long")

    def _show_partitions(self, m: re.Match) -> DataFrame:
        t = self.txlog_tables[m["target"]]
        pcols = t._partition_columns()
        if not pcols:
            raise ValueError(
                f"SHOW PARTITIONS {m['target']}: table is not partitioned")
        active, _ = t._snapshot()
        # drop None-bearing tuples (files missing stats/partition
        # values) BEFORE sorted() — None doesn't compare to str
        seen = sorted({
            row for row in (
                tuple((stats or {}).get("partitionValues", {}).get(c)
                      for c in pcols)
                for stats in active.values())
            if all(v is not None for v in row)})
        return self.spark.createDataFrame(
            seen, ", ".join(f"{c} string" for c in pcols))

    def _copy_into(self, m: re.Match) -> DataFrame:
        target = m["target"]
        t = self.txlog_tables[target]
        version, n = t.copy_into(m["src"], m["fmt"].lower())
        self._refresh_view(target, t)
        return self.spark.createDataFrame(
            [(target, version, n)],
            "table_name string, version long, files_loaded long")

    def _history(self, m: re.Match) -> DataFrame:
        hist = self.txlog_tables[m["target"]].history()
        rows = [(h["version"], h["op"], h["ts"],
                 json.dumps({k: v for k, v in h.items()
                             if k not in ("version", "op", "ts")},
                            sort_keys=True))
                for h in hist]
        return self.spark.createDataFrame(
            rows,
            "version long, operation string, timestamp_ms long, "
            "operation_metrics string")

    def _clone(self, m: re.Match) -> DataFrame:
        dest_name, mode, v = m["dest"], m["mode"].lower(), m["version"]
        src = self.txlog_tables[m["src"]]
        dest_path = os.path.join(os.path.dirname(
            os.path.abspath(src.path)), dest_name)
        if (m["replace"] and mode == "deep"
                and dest_name in self.txlog_tables):
            # re-clone idiom → incremental refresh of the existing
            # deep clone (refuses if it isn't one / has diverged)
            clone = self.txlog_tables[dest_name]
            if v is not None:
                raise ValueError(
                    "CREATE OR REPLACE ... DEEP CLONE refresh cannot "
                    "pin VERSION AS OF; drop the clause to sync to "
                    "the source head")
            clone.clone_refresh()
        else:
            if m["replace"]:
                # OR REPLACE is ONLY the deep re-clone (incremental
                # refresh) idiom over an existing registered deep
                # clone; promising replace semantics and then failing
                # clone_to's concurrent-create guard would mislead
                raise ValueError(
                    "CREATE OR REPLACE ... CLONE only refreshes an "
                    "EXISTING registered DEEP clone (the re-clone "
                    "idiom); "
                    + ("SHALLOW clones track the source live and "
                       "need no refresh — use CREATE TABLE ... "
                       "SHALLOW CLONE for a first clone"
                       if mode == "shallow" else
                       f"{dest_name!r} is not a registered table — "
                       "use CREATE TABLE ... DEEP CLONE for the "
                       "first clone"))
            clone = src.clone_to(
                dest_path, version=int(v) if v is not None else None,
                mode=mode)
        # (re-)register: SELECTs resolve through a temp-view snapshot
        # taken at registration time
        self.register_txlog(dest_name, clone)
        return self._table_ack(dest_name, dest_path, clone)

    @staticmethod
    def _parse_ts_operand(raw: str) -> int:
        """``12345`` (epoch millis) or ``'2024-01-01 00:00:00'`` (ISO,
        UTC) → epoch millis; clear error otherwise."""
        if not raw.startswith("'"):
            return int(raw)
        from datetime import datetime, timezone

        text = raw[1:-1].replace("''", "'")
        try:
            dt = datetime.fromisoformat(text)
        except ValueError:
            raise ValueError(
                f"TIMESTAMP operand {raw}: not epoch millis or an "
                "ISO-8601 timestamp (e.g. '2024-01-01 00:00:00')")
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)

    def _rewrite_table_changes(self, command: str) -> str:
        """Rewrite ``table_changes('t', start[, end])`` over registered
        txlog tables into temp views of ``read_changes`` (Delta's CDF
        table-valued function).  Operands are versions (integers) or
        quoted ISO timestamps (resolved via version_at_timestamp).
        Matches inside string literals are left alone; unknown table
        names pass through to Spark (which will raise its own error)."""
        literal_spans = [m.span() for m in _SQL_STRING_RE.finditer(command)]

        def in_literal(pos: int) -> bool:
            # the function's own quoted table-name argument starts a
            # literal span; only skip matches that START inside a span
            # that OPENED BEFORE the match (i.e. the whole call is
            # quoted text), not the call's own arguments
            return any(a < pos and pos < b for a, b in literal_spans)

        out, pos = [], 0
        for m in _TABLE_CHANGES_RE.finditer(command):
            if m.start() < pos or in_literal(m.start()):
                continue
            name = m.group("t")
            if name not in self.txlog_tables:
                continue
            t = self.txlog_tables[name]

            def bound(raw, default):
                if raw is None:
                    return default
                if raw.startswith("'"):
                    return t.version_at_timestamp(
                        self._parse_ts_operand(raw))
                return int(raw)

            a = bound(m.group("a"), 0)
            b = bound(m.group("b"), None)
            alias = "__tc_{}_{}_{}".format(
                name, a, "latest" if b is None else b)
            t.read_changes(a, b).createOrReplaceTempView(alias)
            out.append(command[pos:m.start()])
            out.append(alias)
            pos = m.end()
        out.append(command[pos:])
        return "".join(out)

    def _rewrite_time_travel(self, command: str) -> str:
        """Rewrite ``t VERSION AS OF n`` / ``t TIMESTAMP AS OF ms`` /
        ``t TIMESTAMP AS OF '2024-01-01 00:00:00'`` over registered
        txlog tables into temp views of the versioned snapshot (Delta's
        SELECT-level time travel).  Runs only on the plain-SQL fallback,
        AFTER the statement-specific routes — so RESTORE/CLONE keep
        their own VERSION AS OF clauses.  Non-txlog names pass through
        untouched, and so does anything INSIDE a string literal (ADVICE
        r6: a matching pattern in a literal must not be rewritten).
        Quoted timestamps are ISO-8601, interpreted as UTC (commit
        timestamps are epoch millis from time.time())."""
        def resolve(m: re.Match) -> str:
            name = m.group("t")
            table = self.txlog_tables[name]
            kind = m.group("kind").upper()
            raw = m.group("v")
            if kind == "VERSION":
                if raw.startswith("'"):
                    raise ValueError(
                        f"VERSION AS OF takes an integer version, got "
                        f"{raw}")
                snap = table.read(version=int(raw))
            else:
                snap = table.read(timestamp=self._parse_ts_operand(raw))
            alias = ("__tt_{}_{}_{}".format(
                name, kind.lower(), re.sub(r"\W", "_", raw)))
            snap.createOrReplaceTempView(alias)
            return alias

        # literal spans are no-rewrite zones — but a quoted timestamp
        # OPERAND may extend into one, so instead of splitting the text we
        # skip only matches that START inside a literal
        literal_spans = [m.span() for m in _SQL_STRING_RE.finditer(command)]
        out, pos = [], 0
        for m in _TIME_TRAVEL_RE.finditer(command):
            if m.start() < pos:
                continue  # swallowed by a previous match's operand
            if any(a <= m.start() < b for a, b in literal_spans):
                continue
            if m.group("t") not in self.txlog_tables:
                continue
            out.append(command[pos:m.start()])
            out.append(resolve(m))
            pos = m.end()
        out.append(command[pos:])
        return "".join(out)

    def _ctas_txlog(self, m: re.Match) -> DataFrame:
        """CREATE [OR REPLACE] TABLE name USING TXLOG [LOCATION '...']
        AS SELECT: evaluate the SELECT (time-travel rewrite applies),
        materialize it as a NEW ACID txlog table, register it.  Default
        location is a deterministic staging dir keyed to the engine's
        data dir (the production shape would be a warehouse path).
        Standard CTAS semantics (ADVICE r7): an existing txlog table at
        the location raises instead of being silently destroyed — a
        mistyped LOCATION must not rmtree someone's data; the explicit
        OR REPLACE clause opts into the destructive variant.  Returns
        (table_name, location, version)."""
        from .sources.txlog import TxLogTable
        from .tmpstage import staging_dir

        name = m.group("name")
        replace = m.group("replace") is not None
        if name in self.txlog_tables and not replace:
            raise ValueError(f"txlog table {name!r} already registered")
        explicit_loc = m.group("loc") is not None
        loc = m.group("loc") or staging_dir(f"engine_ctas_{name}",
                                            self.sf_dir)
        df = self.spark.sql(self._rewrite_time_travel(m.group("select")))
        # the default staging location is engine-owned scratch (keyed to
        # name + data dir); only a USER-named LOCATION can hold someone
        # else's table, so only that path gets the exists-check
        t = TxLogTable.create(self.spark, loc, df,
                              overwrite=replace or not explicit_loc)
        self.register_txlog(name, t)
        return self._table_ack(name, loc, t)

    @staticmethod
    def _split_statements(script: str) -> list[str]:
        """Split a script on ``;`` outside single-quoted literals."""
        stmts: list[str] = []
        cur: list[str] = []
        in_str = False
        for ch in script:
            if ch == "'":
                in_str = not in_str
            if ch == ";" and not in_str:
                stmts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        tail = "".join(cur).strip()
        if tail:
            stmts.append(tail)
        return [s for s in stmts if s]

    def _txn_script(self, m: re.Match) -> DataFrame:
        """Execute ``BEGIN; stmt; …; COMMIT`` atomically PER TABLE: every
        registered txlog table stages its statements' actions
        (read-your-writes inside the script) and publishes them as ONE
        commit at COMMIT — one version per touched table, none for
        untouched ones.  Any statement failure rolls back every staged
        table (segments already written are unreferenced; VACUUM's age
        guard collects them).  Returns one ack row per table that
        actually committed: (table_name, version, statements).

        ATOMICITY SCOPE (ADVICE r7): each table's log is an independent
        commit point, so a script touching SEVERAL txlog tables is
        atomic within each table but NOT across them — exactly Delta's
        model, where a transaction spans one table.  If an OCC conflict
        lands mid-publish, tables already published stay committed and
        the rest roll back; the raised error names both sets so the
        caller can compensate, instead of the partial commit passing
        silently."""
        stmts = self._split_statements(m.string)
        if not stmts or not re.fullmatch(r"BEGIN", stmts[0], re.IGNORECASE):
            raise ValueError("transaction script must start with BEGIN;")
        if not re.fullmatch(r"COMMIT", stmts[-1], re.IGNORECASE):
            raise ValueError("transaction script must end with COMMIT")
        body = stmts[1:-1]
        begun = list(self.txlog_tables.items())
        for _, t in begun:
            t.begin_transaction()
        acks: list[tuple[str, int, int]] = []
        try:
            for s in body:
                self.sql(s)
                # a statement may REGISTER a new txlog table (CTAS,
                # SHALLOW CLONE): begin staging on it too, so the
                # script's later DML against it batches into one commit
                # (its CREATE commit already landed — table existence is
                # not transactional across per-table logs)
                known = {id(t) for _, t in begun}
                for name, t in self.txlog_tables.items():
                    if id(t) not in known:
                        t.begin_transaction()
                        begun.append((name, t))
            for name, t in begun:
                n = t.staged_statement_count()
                try:
                    version = t.commit_transaction()
                except Exception as e:
                    # cross-table publish is not atomic (per-table logs):
                    # report exactly which tables committed and which
                    # will roll back, so the partial state is loud
                    committed = [a[0] for a in acks]
                    pending = [nm for nm, tt in begun
                               if nm != name and tt.staged_statement_count()]
                    raise RuntimeError(
                        f"transaction publish failed on table {name!r}: "
                        f"{e}; tables already committed (NOT rolled "
                        f"back): {committed or 'none'}; tables rolled "
                        f"back: {[name] + pending}; transactions span "
                        "one txlog table — compensate the committed "
                        "tables manually (e.g. RESTORE)") from e
                if n:
                    acks.append((name, version, n))
                    self._refresh_view(name, t)
        except BaseException:
            for name, t in begun:
                try:
                    t.rollback_transaction()
                except RuntimeError:
                    pass  # already committed or rolled back
                try:
                    # a mid-script _dml_ack may have repointed the temp
                    # view at the STAGED snapshot; restore the committed
                    # one so nothing uncommitted stays visible
                    self._refresh_view(name, t)
                except Exception:
                    pass  # e.g. table created empty mid-script
            raise
        return self.spark.createDataFrame(
            acks or [], "table_name string, version long, statements long")

    _MV_COUNT_ITEM = re.compile(r"^COUNT\(\s*\*\s*\)\s+AS\s+(?P<a>\w+)$",
                                re.IGNORECASE)
    _MV_AGG_ITEM = re.compile(
        r"^(?P<fn>SUM|AVG|MIN|MAX|COUNT|APPROX_COUNT_DISTINCT)"
        r"\((?P<e>.+)\)\s+AS\s+(?P<a>\w+)$",
        re.IGNORECASE | re.DOTALL)

    def _create_mv(self, m: re.Match) -> DataFrame:
        """CREATE MATERIALIZED VIEW: an aggregate over ONE txlog table,
        stored as its own ACID txlog table and maintained INCREMENTALLY
        from the source's Change Data Feed — refresh cost scales with
        the change volume, never the source size (the 100 TB contract;
        see ``refresh_materialized_view``).  Supported select items:
        grouping columns, COUNT(*) (at least one — it detects group
        death), SUM(expr), AVG(expr), MIN(expr), MAX(expr), COUNT(expr),
        APPROX_COUNT_DISTINCT(expr) (maintained as a hidden mergeable
        HLL sketch column ``__mv_hll_<alias>`` — inserts union into the
        sketch, removals repair through the bounded per-group
        recompute), plus an
        optional WHERE clause filtering the source rows (applied to
        every fold).  SUM/AVG ride hidden
        non-NULL counters (``__mv_nn_<alias>``, plus ``__mv_sum_`` for
        AVG) so a group whose last non-NULL contributor is deleted
        correctly returns to NULL instead of 0; MIN/MAX fold inserts
        arithmetically (LEAST/GREATEST) and repair groups that saw a
        delete/update-preimage with a bounded per-group recompute (semi
        join of the source against exactly the affected group keys).
        The definition rides the MV table's TBLPROPERTIES, so a fresh
        engine can keep refreshing it.  The source must have CDF
        enabled — refused at CREATE (the first incremental refresh
        would otherwise fail with unrecoverable preimages).

        STAR-JOIN shape: ``FROM fact JOIN dim ON fact.k = dim.k ...``
        composes — the fact side must be the txlog table (its CDF
        drives maintenance); joined sides are broadcast into every
        fold.  Select/group columns stay
        unqualified (must be unambiguous post-join).  A dim that is
        ITSELF a txlog table composes (r11): its version rides the MV
        as a marker, REFRESH detects dim churn metadata-only and
        auto-runs the FULL repair path just for those refreshes — fact
        churn stays incremental.  A STATIC registered view that is
        edited in place remains invisible to maintenance (manual
        ``REFRESH ... FULL``) — the documented contract, same as
        dimension SCD handling in any incremental-view system."""
        name, src_name = m.group("name"), m.group("src")
        if name in self.txlog_tables:
            raise ValueError(f"table {name!r} already exists")
        src = self.txlog_tables[src_name]
        if not src.enable_cdf:
            raise ValueError(
                f"materialized view source {src_name!r} does not have "
                "CDF enabled (enable_cdf=True / delta.enableChangeDataFeed"
                ") — incremental refresh folds the source's change feed, "
                "so the MV cannot be maintained without it")
        groups = [g.strip() for g in m.group("group").split(",")]
        counts: list[str] = []
        sums: dict[str, str] = {}
        avgs: dict[str, str] = {}
        mins: dict[str, str] = {}
        maxs: dict[str, str] = {}
        cnts: dict[str, str] = {}  # COUNT(expr): non-NULL row counts
        approxs: dict[str, str] = {}  # APPROX_COUNT_DISTINCT: HLL state
        by_fn = {"SUM": sums, "AVG": avgs, "MIN": mins, "MAX": maxs,
                 "COUNT": cnts, "APPROX_COUNT_DISTINCT": approxs}
        seen_groups: list[str] = []
        gexprs: dict[str, str] = {}  # computed group keys: alias -> expr
        for item in self._split_top_level(m.group("select")):
            cm = self._MV_COUNT_ITEM.match(item)
            am = self._MV_AGG_ITEM.match(item)
            gm = re.match(r"^(?P<e>.+?)\s+AS\s+(?P<a>\w+)$", item,
                          re.IGNORECASE | re.DOTALL)
            if cm:
                counts.append(cm.group("a"))
            elif am and re.match(r"(?i)^\s*DISTINCT\b",
                                 am.group("e")):
                raise ValueError(
                    f"materialized view select item {item!r} is not "
                    "incrementally maintainable: DISTINCT aggregates "
                    "need per-group value multisets, not signed deltas")
            elif am:
                by_fn[am.group("fn").upper()][am.group("a")] = \
                    am.group("e").strip()
            elif re.match(r"^\w+$", item) and item in groups:
                seen_groups.append(item)
            elif gm and gm.group("a") in groups:
                # computed group key (the time-bucketed rollup shape:
                # `YEAR(d) * 100 + MONTH(d) AS ym ... GROUP BY ym`) —
                # evaluated on the row source, so the scan, every CDF
                # fold, and the MIN/MAX repair bucket identically
                gexprs[gm.group("a")] = gm.group("e").strip()
                seen_groups.append(gm.group("a"))
            else:
                raise ValueError(
                    f"materialized view select item {item!r} is not "
                    "incrementally maintainable: use grouping columns "
                    "(plain or `expr AS alias` matching GROUP BY), "
                    "COUNT(*) AS a, SUM/AVG/MIN/MAX/COUNT(expr) AS a, "
                    "or APPROX_COUNT_DISTINCT(expr) AS a")
        if not counts:
            raise ValueError(
                "materialized view needs a COUNT(*) AS <alias> item — "
                "the count detects when a group dies (deletes)")
        aliases = (counts + list(sums) + list(avgs) + list(mins)
                   + list(maxs) + list(cnts) + list(approxs) + groups)
        dup = {a for a in aliases if aliases.count(a) > 1}
        if dup:
            raise ValueError(
                f"materialized view aliases must be unique: {sorted(dup)}")
        joins: list[dict] = []
        for jm in _MV_JOIN_RE.finditer(m.group("joins") or ""):
            dim = jm.group("dim")
            sides = {jm.group("lt"): jm.group("lc"),
                     jm.group("rt"): jm.group("rc")}
            if dim not in sides or len(sides) != 2:
                raise ValueError(
                    f"MV join ON must equate the joined view {dim!r} "
                    "with the fact side")
            dim_col = sides.pop(dim)
            fact_col = next(iter(sides.values()))
            # r11: txlog dims compose — only the FACT side's CDF drives
            # incremental maintenance, but a dim that is itself a txlog
            # table records its version as a marker; REFRESH detects
            # dim churn (marker vs latest_version, metadata-only) and
            # auto-runs the FULL repair path only then.  Plain
            # registered views stay the static-dim contract (edits are
            # invisible — manual REFRESH ... FULL).
            joins.append({"dim": dim, "fact_col": fact_col,
                          "dim_col": dim_col,
                          "txlog": dim in self.txlog_tables})
        where = (m.group("where") or "").strip()
        dest_path = os.path.join(
            os.path.dirname(os.path.abspath(src.path)), name)
        from .sources.txlog import TxLogTable
        empty = (self._mv_row_source(src.read().limit(0), joins, where,
                                     gexprs)
                 .groupBy(*groups)
                 .agg(*self._mv_full_aggs(counts, sums, avgs, mins, maxs,
                                          cnts, approxs)))
        # the MV records its own CDF, so MVs CASCADE: a second MV (or
        # any CDF consumer) can maintain itself from this one's change
        # feed — the multi-stage incremental-pipeline shape
        mv = TxLogTable.create(self.spark, dest_path, empty,
                               enable_cdf=True)
        mv.set_properties({
            "mv.source": src_name,
            "mv.groupBy": ",".join(groups),
            "mv.counts": ",".join(counts),
            "mv.sums": json.dumps(sums, sort_keys=True),
            "mv.avgs": json.dumps(avgs, sort_keys=True),
            "mv.mins": json.dumps(mins, sort_keys=True),
            "mv.maxs": json.dumps(maxs, sort_keys=True),
            "mv.joins": json.dumps(joins, sort_keys=True),
            "mv.cnts": json.dumps(cnts, sort_keys=True),
            "mv.approxs": json.dumps(approxs, sort_keys=True),
            "mv.groupExprs": json.dumps(gexprs, sort_keys=True),
            **({"mv.dimVersions": json.dumps(
                    {j["dim"]: self.txlog_tables[j["dim"]]
                     .latest_version()
                     for j in joins if j.get("txlog")}, sort_keys=True)}
               if any(j.get("txlog") for j in joins) else {}),
            **({"mv.where": where} if where else {}),
        })
        self.register_txlog(name, mv)
        return self.refresh_materialized_view(name)

    @staticmethod
    def _mv_full_aggs(counts, sums, avgs, mins, maxs, cnts=(),
                      approxs=()):
        """The MV's schema definition: the from-scratch aggregate list
        whose result types CREATE's schema probe and the legacy-schema
        migration read — visible aggregates plus the hidden SUM/AVG
        maintenance state (``__mv_nn_<a>`` non-NULL counters;
        ``__mv_sum_<a>`` running sums for AVG) and the hidden mergeable
        HLL sketch state (``__mv_hll_<a>``) behind each
        APPROX_COUNT_DISTINCT item.  Refreshes never run it: they fill
        these columns through the one signed-delta fold in
        ``refresh_materialized_view``."""
        from pyspark.sql import functions as F
        aggs = [F.count("*").alias(c) for c in counts]
        for a, e in sums.items():
            aggs += [F.sum(F.expr(e)).alias(a),
                     F.count(F.expr(e)).alias(f"__mv_nn_{a}")]
        for a, e in avgs.items():
            aggs += [F.avg(F.expr(e)).alias(a),
                     F.sum(F.expr(e)).alias(f"__mv_sum_{a}"),
                     F.count(F.expr(e)).alias(f"__mv_nn_{a}")]
        for a, e in mins.items():
            aggs.append(F.min(F.expr(e)).alias(a))
        for a, e in maxs.items():
            aggs.append(F.max(F.expr(e)).alias(a))
        for a, e in dict(cnts).items():
            aggs.append(F.count(F.expr(e)).alias(a))
        for a, e in dict(approxs).items():
            aggs += [
                F.expr(f"COALESCE(hll_sketch_estimate("
                       f"hll_sketch_agg({e})), 0)").alias(a),
                F.expr(f"hll_sketch_agg({e})").alias(f"__mv_hll_{a}"),
            ]
        return aggs

    def stream_refresh(self, name: str, checkpoint_dir: str):
        """Keep a materialized view CONTINUOUSLY fresh: a Structured
        Streaming query over the source's CDF (``txlogcdf``) triggers
        ``refresh_materialized_view`` per micro-batch.  The stream is
        only the TRIGGER — the refresh itself re-reads the CDF range
        from the fold marker, so exactly-once still rests on the txn
        marker riding each fold's MERGE commit: a replayed micro-batch
        after a crash/restart finds the marker advanced and no-ops.
        Returns the StreamingQuery (caller stops it / awaits
        termination; ``trigger(availableNow=True)`` gives catch-up-
        then-stop batch-drain semantics)."""
        from .sources.txlog_stream import register_txlog_cdf_source

        mv = self.txlog_tables[name]
        props = mv.properties()
        if "mv.source" not in props:
            raise ValueError(f"{name!r} is not a materialized view")
        src = self.txlog_tables[props["mv.source"]]
        register_txlog_cdf_source(self.spark)
        stream = (self.spark.readStream.format("txlogcdf")
                  .option("path", src.path).load())
        return (stream.writeStream
                .foreachBatch(
                    lambda _df, _bid: self.refresh_materialized_view(name))
                .option("checkpointLocation", checkpoint_dir)
                .start())

    def _mv_row_source(self, fact: DataFrame, joins: list[dict],
                       where: str = "", gexprs: dict | None = None
                       ) -> DataFrame:
        """The MV's input row set: the fact frame (snapshot or CDF
        batch) inner-joined to each static dim, dims BROADCAST, then the
        definition's WHERE filter — a CDF delta batch keeps its
        ``_change_type`` column through both, so one code path serves
        the initial scan, every fold, and the MIN/MAX repair
        recompute."""
        from pyspark.sql import functions as F

        out = fact
        for j in joins:
            # txlog dims read their CURRENT committed snapshot directly
            # (the registered temp view only refreshes on engine DML
            # acks); static views resolve through the catalog
            dim = (self.txlog_tables[j["dim"]].read()
                   if j.get("txlog") else self.spark.table(j["dim"]))
            out = out.join(F.broadcast(dim),
                           out[j["fact_col"]] == dim[j["dim_col"]], "inner")
        if where:
            out = out.filter(F.expr(where))
        for a, e in (gexprs or {}).items():
            out = out.withColumn(a, F.expr(e))
        return out

    def refresh_materialized_view(self, name: str,
                                  full: bool = False) -> DataFrame:
        """REFRESH MATERIALIZED VIEW: advance the stored aggregate to
        the source's current version with ONE fold — a
        ``groupBy(*groups).agg(...)`` of signed per-group deltas over one
        row source, MERGEd into the stored state.

        An incremental refresh folds ONLY the source's CDF rows since
        the last refreshed version (inserts add, removals subtract) and
        MERGEs the deltas in: dead groups delete, changed groups update
        arithmetically, new groups insert.  A group that saw a removal
        re-derives MIN/MAX/APPROX_COUNT_DISTINCT through a bounded
        per-group recompute.  The fold position rides the MERGE commit
        itself as a ``txn`` action (appId ``mv::<name>``), so a
        crashed/replayed refresh can never double-apply — the same
        exactly-once contract as the streaming sinks.

        ``full=True`` (``REFRESH ... FULL``) folds the snapshot at the
        current version with every row an insert, so the delta IS the
        whole state; it REPLACES the stored state (matched groups take
        the fold's values, absent groups delete via the by-source arm)
        — the repair path after something outside the CDF contract
        changed, e.g. a static dimension was edited.  The first refresh
        (no fold marker yet) is a FULL refresh into the empty MV."""
        from pyspark.sql import functions as F

        mv = self.txlog_tables[name]
        props = mv.properties()
        if "mv.source" not in props:
            raise ValueError(f"{name!r} is not a materialized view")
        src = self.txlog_tables[props["mv.source"]]
        groups = props["mv.groupBy"].split(",")
        counts = [c for c in props["mv.counts"].split(",") if c]
        sums = json.loads(props.get("mv.sums", "{}"))
        avgs = json.loads(props.get("mv.avgs", "{}"))
        mins = json.loads(props.get("mv.mins", "{}"))
        maxs = json.loads(props.get("mv.maxs", "{}"))
        cnts = json.loads(props.get("mv.cnts", "{}"))
        approxs = json.loads(props.get("mv.approxs", "{}"))
        joins = json.loads(props.get("mv.joins", "[]"))
        where = props.get("mv.where", "")
        gexprs = json.loads(props.get("mv.groupExprs", "{}"))
        dnn = lambda a: f"__d___mv_nn_{a}"    # noqa: E731
        dsum = lambda a: f"__d___mv_sum_{a}"  # noqa: E731
        app = f"mv::{name}"
        last = mv.txn_version_for(app)
        cur = src.latest_version()
        # r11: txlog dims — detect dim churn (metadata-only version
        # check against the recorded markers) and auto-run the FULL
        # repair path only then; fact churn stays incremental.  A
        # static-view dim edit remains invisible (manual FULL), the
        # documented contract.
        dim_vers = json.loads(props.get("mv.dimVersions", "{}"))
        cur_dims = {j["dim"]: self.txlog_tables[j["dim"]].latest_version()
                    for j in joins if j.get("txlog")}
        dims_stale = any(v > int(dim_vers.get(d, -1))
                         for d, v in cur_dims.items())
        if dims_stale:
            full = True
        # One-time migration (r11 ADVICE, medium): an MV maintained
        # from an SCD2 source's change feed BEFORE tombstone
        # suppression existed may have counted zero-width tombstone
        # inserts — no compensating delete ever comes, so it stays
        # wrong until repaired.  On the first refresh against a
        # stamped SCD2 source, audit the ALREADY-FOLDED CDF range once
        # for zero-width inserts; any hit forces the FULL repair below
        # (which recomputes from the public read — tombstones hidden).
        # The verdict rides the MV as ``mv.scd2TombstoneAudit`` so the
        # audit never re-runs; post-suppression feeds can't emit
        # tombstone inserts, so clean stays clean.
        audit_clean_pending = False
        s_sc = src.properties().get("txlog.scd2.startCol")
        s_ec = src.properties().get("txlog.scd2.endCol")
        if s_sc and s_ec and \
                props.get("mv.scd2TombstoneAudit") != "clean":
            hit = 0
            lo = src._earliest_version()  # respect metadata cleanup
            if last >= lo:
                ch0 = src.read_changes(lo, last)
                if s_sc in ch0.columns and s_ec in ch0.columns:
                    hit = (ch0.filter(
                        (F.col("_change_type") == "insert")
                        & F.col(s_ec).isNotNull()
                        & (F.col(s_sc) == F.col(s_ec)))
                        .limit(1).count())
            if hit:
                full = True
                audit_clean_pending = True  # stamp WITH the repair
            else:
                mv.set_properties({"mv.scd2TombstoneAudit": "clean"})
        # One-time migration (r11 ADVICE): MVs persisted before the
        # hidden SUM/AVG maintenance state existed lack the
        # __mv_nn_/__mv_sum_ columns every refresh now maintains —
        # without this, both incremental and FULL refresh died with an
        # opaque unresolved-column error.  Backfill: metadata-only ADD
        # COLUMN (typed from a schema-only probe of the definition's
        # aggregate), then force ONE full recompute so the new state
        # columns are correct for every existing group.
        need = ([f"__mv_nn_{a}" for a in list(sums) + list(avgs)]
                + [f"__mv_sum_{a}" for a in avgs])
        mv_cols = set(mv.read().columns)
        missing = [c for c in need if c not in mv_cols]
        if missing:
            probe = dict(
                self._mv_row_source(src.read().limit(0), joins, where,
                                    gexprs)
                .groupBy(*groups)
                .agg(*self._mv_full_aggs(counts, sums, avgs, mins,
                                         maxs, cnts))
                .dtypes)
            for c in missing:
                mv.add_column(c, probe[c])
            full = True
        if last < 0:
            full = True  # the first refresh folds into the empty MV
        if not full and last >= cur:
            return self._dml_ack(name, mv.latest_version())  # up to date
        # ONE fold for every refresh: signed per-group deltas over one
        # row source.  Incremental folds the CDF rows since the marker;
        # FULL folds the snapshot at ``cur`` with every row an insert,
        # so its "delta" is the whole state.
        if full:
            rows = src.read(version=cur).withColumn(
                "_change_type", F.lit("insert"))
        else:
            rows = src.read_changes(last + 1, cur)
        ch = self._mv_row_source(rows, joins, where, gexprs)
        added = F.col("_change_type").isin("insert", "update_postimage")
        # negate, never multiply by an INT sign: a DECIMAL times INT
        # widens by 11 digits and loses its scale past 38
        signed = lambda c: F.when(added, c).otherwise(-c)  # noqa: E731
        nn_of = lambda e: signed(  # noqa: E731
            F.expr(e).isNotNull().cast("long"))
        delta = ch.groupBy(*groups).agg(
            *([F.sum(signed(F.lit(1))).alias(f"__d_{c}") for c in counts]
              + [x for a, e in sums.items()
                 for x in (F.sum(signed(F.expr(e))).alias(f"__d_{a}"),
                           F.sum(nn_of(e)).alias(dnn(a)))]
              + [x for a, e in avgs.items()
                 for x in (F.sum(signed(F.expr(e))).alias(dsum(a)),
                           F.sum(nn_of(e)).alias(dnn(a)),
                           # AVG's own division, exact to the stored
                           # scale: the value of an insert-only group
                           F.avg(F.expr(e)).alias(f"__d_{a}"))]
              + [F.sum(nn_of(e)).alias(f"__d_{a}")
                 for a, e in cnts.items()]
              + [F.min(F.when(added, F.expr(e))).alias(f"__i_{a}")
                 for a, e in mins.items()]
              + [F.max(F.when(added, F.expr(e))).alias(f"__x_{a}")
                 for a, e in maxs.items()]
              # HLL sketches fold inserts only (union); removals need
              # the same bounded repair as MIN/MAX (sketches cannot
              # subtract)
              + [F.expr(f"hll_sketch_agg(CASE WHEN _change_type IN "
                        f"('insert', 'update_postimage') THEN {e} "
                        f"END)").alias(f"__d_hll_{a}")
                 for a, e in approxs.items()]
              # any removed row (delete / update preimage) can lower a
              # MAX, raise a MIN, or retire a distinct value — those
              # groups need a bounded recompute (repair)
              + [F.max(F.when(added, F.lit(0)).otherwise(F.lit(1)))
                 .alias("__rep")]))
        if not full:
            # drop no-op groups (count unchanged, every sum/avg delta
            # and non-NULL-count delta zero, no MIN/MAX-relevant
            # change): their segments must not be rewritten
            nonzero = " OR ".join(
                [f"__d_{c} <> 0" for c in counts]
                + [f"(__d_{a} IS NOT NULL AND __d_{a} <> 0)"
                   for a in sums]
                + [f"({dsum(a)} IS NOT NULL AND {dsum(a)} <> 0)"
                   for a in avgs]
                + [f"{dnn(a)} <> 0" for a in list(sums) + list(avgs)]
                + [f"__d_{a} <> 0" for a in cnts]
                + (["__rep = 1"] if (mins or maxs or approxs) else [])
                + [f"__i_{a} IS NOT NULL" for a in mins]
                + [f"__x_{a} IS NOT NULL" for a in maxs]
                + [f"__d_hll_{a} IS NOT NULL" for a in approxs])
            delta = delta.filter(F.expr(nonzero))
        dt = dict(mv.read().dtypes)
        rcol = lambda a: f"__r_{a}"  # noqa: E731
        rhll = lambda a: f"__r_hll_{a}"  # noqa: E731
        if (mins or maxs or approxs) and not full:
            # bounded repair: recompute MIN/MAX from the CURRENT source
            # snapshot for EXACTLY the groups that saw a removal — a
            # null-safe (struct-packed) semi join prunes the scan to
            # affected groups; cost ∝ their row share, never table size.
            # A fold with no removals broadcasts an empty key set, and
            # AQE skips the scan.
            mk = F.struct(*[F.col(g) for g in groups]).alias("_mk")
            rep_keys = (delta.filter("__rep = 1")
                        .select(mk).distinct())
            rec = (self._mv_row_source(src.read(version=cur), joins,
                                       where, gexprs)
                   .withColumn("_mk", F.struct(*groups))
                   .join(F.broadcast(rep_keys), "_mk", "left_semi")
                   .groupBy(*groups)
                   .agg(*([F.min(F.expr(e)).alias(rcol(a))
                           for a, e in mins.items()]
                          + [F.max(F.expr(e)).alias(rcol(a))
                             for a, e in maxs.items()]
                          + [F.expr(f"hll_sketch_agg({e})")
                             .alias(rhll(a))
                             for a, e in approxs.items()])))
            delta = (delta.withColumn("_mk", F.struct(*groups))
                     .join(F.broadcast(rec.withColumn(
                         "_mk", F.struct(*groups)).drop(*groups)),
                         "_mk", "left")
                     .drop("_mk"))
        elif mins or maxs or approxs:
            # a FULL fold has no removals, so it never reads the repair
            delta = delta.withColumns(
                {**{rcol(a): F.expr(f"CAST(NULL AS {dt[a]})")
                    for a in list(mins) + list(maxs)},
                 **{rhll(a): F.expr("CAST(NULL AS BINARY)")
                    for a in approxs}})
        dead = " AND ".join(f"t.{c} + s.__d_{c} = 0" for c in counts)
        upd = {c: f"t.{c} + s.__d_{c}" for c in counts}
        for a in sums:
            nn_new = f"(COALESCE(t.__mv_nn_{a}, 0) + COALESCE(s.{dnn(a)}, 0))"
            upd[f"__mv_nn_{a}"] = nn_new
            # a group whose last non-NULL contributor is deleted returns
            # to NULL (full-recompute parity), not to an arithmetic 0
            upd[a] = (f"CASE WHEN {nn_new} <= 0 THEN "
                      f"CAST(NULL AS {dt[a]}) ELSE "
                      f"COALESCE(t.{a}, 0) + COALESCE(s.__d_{a}, 0) END")
        for a in avgs:
            nn_new = f"(COALESCE(t.__mv_nn_{a}, 0) + COALESCE(s.{dnn(a)}, 0))"
            sum_new = (f"(COALESCE(t.__mv_sum_{a}, 0) + "
                       f"COALESCE(s.{dsum(a)}, 0))")
            upd[f"__mv_nn_{a}"] = nn_new
            upd[f"__mv_sum_{a}"] = (
                f"CASE WHEN {nn_new} <= 0 THEN "
                f"CAST(NULL AS {dt[f'__mv_sum_{a}']}) ELSE {sum_new} END")
            upd[a] = (f"CASE WHEN {nn_new} <= 0 THEN "
                      f"CAST(NULL AS {dt[a]}) ELSE "
                      f"{sum_new} / {nn_new} END")
        for a in mins:
            upd[a] = (f"CASE WHEN s.__rep = 1 THEN s.{rcol(a)} "
                      f"ELSE LEAST(t.{a}, s.__i_{a}) END")
        for a in maxs:
            upd[a] = (f"CASE WHEN s.__rep = 1 THEN s.{rcol(a)} "
                      f"ELSE GREATEST(t.{a}, s.__x_{a}) END")
        for a in cnts:
            # COUNT(expr) folds like COUNT(*) but signed on non-NULL
            # rows only; an all-NULL group correctly reads 0, never NULL
            upd[a] = f"t.{a} + s.__d_{a}"
        for a in approxs:
            # insert-only folds UNION the mergeable sketches (exact
            # arithmetic on HLL registers); any removal went through
            # the bounded repair, which recomputed the group's sketch
            sk = (f"CASE WHEN s.__rep = 1 THEN s.{rhll(a)} "
                  f"WHEN s.__d_hll_{a} IS NULL THEN t.__mv_hll_{a} "
                  f"WHEN t.__mv_hll_{a} IS NULL THEN s.__d_hll_{a} "
                  f"ELSE hll_union(t.__mv_hll_{a}, s.__d_hll_{a}) END")
            upd[f"__mv_hll_{a}"] = sk
            upd[a] = (f"COALESCE(hll_sketch_estimate({sk}), "
                      f"CAST(0 AS BIGINT))")
        ins = {g: f"s.{g}" for g in groups}
        ins.update({c: f"s.__d_{c}" for c in counts})
        for a in sums:
            ins[a] = f"s.__d_{a}"
            ins[f"__mv_nn_{a}"] = f"s.{dnn(a)}"
        for a in avgs:
            ins[a] = (f"CASE WHEN s.__rep = 0 THEN s.__d_{a} "
                      f"WHEN s.{dnn(a)} <= 0 THEN CAST(NULL AS {dt[a]}) "
                      f"ELSE CAST(s.{dsum(a)} / s.{dnn(a)} AS {dt[a]}) "
                      f"END")
            ins[f"__mv_sum_{a}"] = f"s.{dsum(a)}"
            ins[f"__mv_nn_{a}"] = f"s.{dnn(a)}"
        for a in mins:
            ins[a] = (f"CASE WHEN s.__rep = 1 THEN s.{rcol(a)} "
                      f"ELSE s.__i_{a} END")
        for a in maxs:
            ins[a] = (f"CASE WHEN s.__rep = 1 THEN s.{rcol(a)} "
                      f"ELSE s.__x_{a} END")
        for a in cnts:
            ins[a] = f"s.__d_{a}"
        for a in approxs:
            sk = (f"CASE WHEN s.__rep = 1 THEN s.{rhll(a)} "
                  f"ELSE s.__d_hll_{a} END")
            ins[f"__mv_hll_{a}"] = sk
            ins[a] = (f"COALESCE(hll_sketch_estimate({sk}), "
                      f"CAST(0 AS BIGINT))")
        matched = [{"action": "delete", "condition": dead},
                   {"action": "update", "set": upd}]
        by_source: list[dict] = []
        post_props: dict[str, str] = {}
        if full:
            # FULL replaces the stored state: matched groups take the
            # fold's insert values, absent groups delete via the
            # by-source arm
            matched = [{"action": "update", "set": {
                c: v for c, v in ins.items() if c not in groups}}]
            by_source = [{"action": "delete"}]
            if cur_dims and cur_dims != {
                    d: int(v) for d, v in dim_vers.items()}:
                post_props["mv.dimVersions"] = json.dumps(
                    cur_dims, sort_keys=True)
            if audit_clean_pending:
                post_props["mv.scd2TombstoneAudit"] = "clean"
        # A FULL refresh is idempotent by construction (replace
        # semantics), so it needs no replay guard of its own — the fold
        # marker only advances when the fold also covers source versions
        # not folded yet.  When the marker is already at head (repairing
        # a changed dim), commit WITHOUT the marker so the replace is
        # never skipped as a replayed fold.
        txn = {"txn_app_id": app, "txn_version": cur} if last < cur \
            else {}
        if post_props:
            # ADVICE r11: marker and fold advance ATOMICALLY — with a
            # separate set_properties commit, a crash between the two
            # left the marker stale and the NEXT refresh redid the whole
            # FULL recompute (benign but a surprise cost at 100 TB).
            # Staging both in one table transaction lands them as ONE
            # commit/version.  cur_dims was captured BEFORE the fold
            # read the dims, so a concurrent dim write leaves its marker
            # below head and triggers exactly one more FULL —
            # conservative, never stale-serving.
            mv.begin_transaction()
        try:
            mv.merge_full(
                delta, groups, when_matched=matched,
                when_not_matched=[
                    # a purely-negative delta for an unseen group cannot
                    # happen (CDF preimages imply the group existed); a
                    # zero-count insert would be a dead group — skip it
                    {"action": "insert",
                     "condition": f"s.__d_{counts[0]} > 0",
                     "values": ins},
                ],
                when_not_matched_by_source=by_source, **txn)
            if post_props:
                mv.set_properties(post_props)
        except BaseException:
            if post_props:
                mv.rollback_transaction()
            raise
        if post_props:
            mv.commit_transaction()
        return self._dml_ack(name, mv.latest_version())

    def _apply_changes_stmt(self, m: re.Match) -> DataFrame:
        """``APPLY CHANGES INTO t FROM src KEYS (…) [APPLY AS DELETE
        WHEN pred] SEQUENCE BY seq [COLUMNS * EXCEPT (…)] [STORED AS SCD
        TYPE 1|2] [TRACK HISTORY ON * EXCEPT (…)]`` — the DLT CDC
        statement routed onto the engine's fold primitives.  ``src`` is
        any registered view/table (the change batch); ``COLUMNS *
        EXCEPT`` drops operational columns (op markers, ingest
        timestamps) from the batch before the fold; SCD TYPE defaults
        to 1; TRACK HISTORY requires TYPE 2."""
        target = m.group("target")
        t = self.txlog_tables[target]
        changes = self.spark.table(m.group("src"))
        keys = _names(m.group("keys"))
        scd = int(m.group("scd") or 1)
        thex = m.group("thex")
        if thex and scd != 2:
            raise ValueError(
                "TRACK HISTORY ON * EXCEPT requires STORED AS SCD "
                "TYPE 2 (type 1 keeps no history to track)")
        drop = [c.strip() for c in (m.group("dropcols") or "").split(",")
                if c.strip()]
        bad = [c for c in drop
               if c in keys or c == m.group("seq")]
        if bad:
            raise ValueError(
                f"COLUMNS * EXCEPT cannot drop key/sequence columns: "
                f"{bad}")
        asdel = (m.group("asdel") or "").strip() or None
        if asdel is not None:
            # the delete predicate evaluates on the RAW batch — COLUMNS
            # * EXCEPT controls the STORED columns, and usually drops
            # exactly the op column the predicate reads
            from .sources.txlog import TxLogTable
            changes, _ = TxLogTable._apply_as_deletes(
                changes, "_change_type", asdel)
        if drop:
            changes = changes.drop(*drop)
        kwargs = dict(key=keys if len(keys) > 1 else keys[0],
                      sequence_by=m.group("seq"))
        if scd == 2:
            version = t.apply_changes_scd2(
                changes,
                ignore_null_updates=bool(m.group("ignulls")),
                track_history_except_columns=_names(thex),
                **kwargs)
        else:
            version = t.apply_changes(
                changes, ignore_null_updates=bool(m.group("ignulls")),
                **kwargs)
        return self._dml_ack(target, version)

    def _dml_ack(self, target: str, version: int) -> DataFrame:
        """Refresh the target's temp view and return the commit ack."""
        self._refresh_view(target, self.txlog_tables[target])
        return self.spark.createDataFrame(
            [(target, version)], "table_name string, version long")

    def _update(self, m: re.Match) -> DataFrame:
        from pyspark.sql import functions as F

        target, body = m["target"], m["body"]
        sets, cond = body, None  # no WHERE = update every row (SQL)
        for i in self._top_level(body):
            where = _WHERE_KW_RE.match(body, i)
            if where:
                sets, cond = body[:i], body[where.end():]
                break
        assignments: dict[str, str] = {}
        for part in self._split_top_level(sets):
            col, eq, expr = part.partition("=")
            if not eq or not col.strip().isidentifier():
                raise ValueError(f"unsupported UPDATE SET clause: {part!r}")
            assignments[col.strip()] = expr.strip()
        from .sources.txlog import sql_predicate_triples
        version = self.txlog_tables[target].update_where(
            assignments, F.expr(cond) if cond else F.lit(True),
            prune=sql_predicate_triples(cond))
        return self._dml_ack(target, version)

    def _delete(self, m: re.Match) -> DataFrame:
        from pyspark.sql import functions as F

        target = m.group("target")
        cond = m.group("cond")  # no WHERE = delete every row (SQL)
        from .sources.txlog import sql_predicate_triples
        version = self.txlog_tables[target].delete_where(
            F.expr(cond) if cond else F.lit(True),
            prune=sql_predicate_triples(cond))
        return self._dml_ack(target, version)

    def _insert_into(self, m: re.Match) -> DataFrame:
        """INSERT INTO t [(col, …)] SELECT …/VALUES … → txlog append
        commit.  Without a column list: positional semantics, the query's
        output renamed to the table schema in order (arity-checked).
        With a column list: the query's output binds to the NAMED columns
        in order; omitted columns materialize their DEFAULT if one is set
        (append fills them), else read as NULL — standard SQL INSERT
        column-list semantics."""
        target = m.group("target")
        t = self.txlog_tables[target]
        df = self.spark.sql(self._rewrite_time_travel(m.group("query")))
        cols = m.group("cols")
        if cols:
            names = _names(cols)
            table_cols = t.read().columns
            bad = [c for c in names if c not in table_cols]
            if bad:
                raise ValueError(
                    f"INSERT INTO {target}: unknown column(s) {bad}")
            if len(set(names)) != len(names):
                raise ValueError(
                    f"INSERT INTO {target}: duplicate column in list")
            if len(df.columns) != len(names):
                raise ValueError(
                    f"INSERT INTO {target}: query produces "
                    f"{len(df.columns)} column(s), list names "
                    f"{len(names)}")
            df = df.toDF(*names)
        else:
            table_cols = t.read().columns
            if len(df.columns) != len(table_cols):
                raise ValueError(
                    f"INSERT INTO {target}: query produces "
                    f"{len(df.columns)} column(s), table has "
                    f"{len(table_cols)}")
            df = df.toDF(*table_cols)
        version = t.append(df)
        return self._dml_ack(target, version)

    @staticmethod
    def _parse_on_keys(on_text: str, t_names: set, s_names: set,
                       command: str) -> list[str]:
        """Parse a MERGE ON clause of one or more AND-joined equalities
        into the ordered key-column list.  Each equality must bind one
        target-side and one source-side reference (case-insensitive
        alias match) with the SAME column name on both sides."""
        t_lower = {a.lower() for a in t_names}
        s_lower = {a.lower() for a in s_names}
        keys: list[str] = []
        for part in re.split(r"\s+AND\s+", on_text.strip(),
                             flags=re.IGNORECASE):
            em = _ON_EQ_RE.match(part.strip())
            if not em:
                raise ValueError(
                    f"unsupported MERGE ON term {part!r} in {command!r}")
            sides = {em.group("q1").lower(): em.group("k1"),
                     em.group("q2").lower(): em.group("k2")}
            t_key = next((k for q, k in sides.items() if q in t_lower),
                         None)
            s_key = next((k for q, k in sides.items() if q in s_lower),
                         None)
            if t_key is None or s_key is None or t_key != s_key:
                raise ValueError(
                    f"unsupported MERGE ON clause in {command!r}: each "
                    "term needs target.<key> = source.<key> with the "
                    "same column name")
            keys.append(t_key)
        return keys

    def _merge_prelude(self, m: re.Match):
        """The head both MERGE forms share: the target check, the target
        and source alias sets, and the ON key (a list when composite)."""
        target, source = m["target"], m["source"]
        if target not in self.txlog_tables:
            raise ValueError(
                f"MERGE INTO target {target!r} is not a registered txlog "
                "table (register_txlog first)")
        t_names = {target, (m["talias"] or target)}
        s_names = {source, (m["salias"] or source)}
        keys = self._parse_on_keys(m["on"], t_names, s_names, m.string)
        return t_names, s_names, keys if len(keys) > 1 else keys[0]

    def _merge_into(self, m: re.Match) -> DataFrame:
        _, _, key = self._merge_prelude(m)
        version = self.txlog_tables[m["target"]].merge_upsert(
            self.spark.table(m["source"]), key)
        return self._dml_ack(m["target"], version)

    @staticmethod
    def _top_level(s: str):
        """Yield the index of every character of ``s`` outside string
        literals and parentheses (quotes and parentheses excluded)."""
        depth, q = 0, None
        for i, ch in enumerate(s):
            if q:
                if ch == q:
                    q = None
            elif ch in ("'", '"'):
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                yield i

    @classmethod
    def _split_top_level(cls, s: str) -> list[str]:
        """Split on commas outside parentheses and string literals —
        SET a = f(x, y), b = 2 has exactly one top-level comma."""
        out, start = [], 0
        for i in cls._top_level(s):
            if s[i] == ",":
                out.append(s[start:i])
                start = i + 1
        out.append(s[start:])
        return [p.strip() for p in out if p.strip()]

    def _merge_into_full(self, m: re.Match) -> DataFrame:
        """Full-clause MERGE → TxLogTable.merge_full.  Alias-qualified
        references in clause conditions / SET / VALUES expressions are
        rewritten onto the ``t``/``s`` struct columns merge_full
        evaluates against (so ``tgt.v < src.v`` becomes ``t.v < s.v``)."""
        t_names, s_names, key = self._merge_prelude(m)
        alias_re = re.compile(
            r"\b(" + "|".join(re.escape(a) for a in
                              sorted(t_names | s_names, key=len,
                                     reverse=True)) + r")\s*\.",
            re.IGNORECASE)
        # the regex matches case-insensitively, so membership must too:
        # `TGT.v` for alias `tgt` must rebind to t., never silently to s.
        t_lower = {a.lower() for a in t_names}
        s_lower = {a.lower() for a in s_names}

        def rebind(expr: str) -> str:
            def _side(am: re.Match) -> str:
                a = am.group(1).lower()
                if a in t_lower:
                    return "t."
                if a in s_lower:
                    return "s."
                raise ValueError(
                    f"MERGE expression qualifier {am.group(1)!r} matches "
                    "neither the target nor the source alias")
            return alias_re.sub(_side, expr)

        clauses_text = m["clauses"]
        starts = [c.start() for c in
                  _MERGE_CLAUSE_START_RE.finditer(clauses_text)]
        if not starts or starts[0] != 0:
            raise ValueError(
                f"cannot parse MERGE clauses in {m.string!r}")
        pieces = [clauses_text[a:b].strip()
                  for a, b in zip(starts, starts[1:] + [len(clauses_text)])]
        matched, not_matched, by_source = [], [], []
        for piece in pieces:
            cm = _MERGE_CLAUSE_RE.match(piece)
            if not cm:
                raise ValueError(f"cannot parse MERGE clause: {piece!r}")
            kind = re.sub(r"\s+", " ", cm.group("kind").upper())
            cond = cm.group("cond")
            cond = rebind(cond.strip()) if cond else None
            action = cm.group("action").strip()
            if kind in ("MATCHED", "NOT MATCHED BY SOURCE"):
                bucket = matched if kind == "MATCHED" else by_source
                if _MERGE_ACT_DELETE_RE.match(action):
                    bucket.append({"action": "delete", "condition": cond})
                elif _MERGE_ACT_UPDATE_STAR_RE.match(action):
                    if kind == "NOT MATCHED BY SOURCE":
                        raise ValueError(
                            "UPDATE SET * is meaningless on the NOT "
                            "MATCHED BY SOURCE arm (no source row)")
                    bucket.append({"action": "update", "condition": cond,
                                   "set": "*"})
                else:
                    am = _MERGE_ACT_UPDATE_RE.match(action)
                    if not am:
                        raise ValueError(
                            f"cannot parse MERGE action: {action!r}")
                    sets: dict[str, str] = {}
                    for part in self._split_top_level(am.group("sets")):
                        col, eq, expr = part.partition("=")
                        col = re.sub(r"^\s*\w+\s*\.\s*", "",
                                     col.strip())  # t.col = … allowed
                        if not eq or not col.isidentifier():
                            raise ValueError(
                                f"unsupported MERGE SET clause: {part!r}")
                        sets[col] = rebind(expr.strip())
                    bucket.append({"action": "update", "condition": cond,
                                   "set": sets})
            else:  # NOT MATCHED → INSERT
                if _MERGE_ACT_INSERT_STAR_RE.match(action):
                    not_matched.append({"action": "insert",
                                        "condition": cond, "values": "*"})
                else:
                    am = _MERGE_ACT_INSERT_RE.match(action)
                    if not am:
                        raise ValueError(
                            f"cannot parse MERGE action: {action!r}")
                    cols = _names(am.group("cols"))
                    vals = self._split_top_level(am.group("vals"))
                    if len(cols) != len(vals):
                        raise ValueError(
                            f"MERGE INSERT arity mismatch: {len(cols)} "
                            f"column(s), {len(vals)} value(s)")
                    not_matched.append(
                        {"action": "insert", "condition": cond,
                         "values": {c: rebind(v)
                                    for c, v in zip(cols, vals)}})
        version = self.txlog_tables[m["target"]].merge_full(
            self.spark.table(m["source"]), key,
            when_matched=matched, when_not_matched=not_matched,
            when_not_matched_by_source=by_source,
            schema_evolution=bool(m["evolve"]))
        return self._dml_ack(m["target"], version)

    def table(self, name: str) -> DataFrame:
        return self.tables[name]


def _names(text: str | None) -> list[str] | None:
    """``a, b`` → ``['a', 'b']``; an absent clause (None) stays None."""
    return [c.strip() for c in text.split(",")] if text else None


def _commit(op):
    """Route handler for a statement that is one TxLogTable commit:
    ``op(table, m)`` returns the new version, acked by ``_dml_ack``."""
    def handler(engine: Engine, m: re.Match) -> DataFrame:
        target = m["target"]
        return engine._dml_ack(target, op(engine.txlog_tables[target], m))
    return handler


# Engine.sql's routing table: (statement regex, guarded group or None,
# handler), tried in order against the stripped statement.  The first row
# that fully matches and whose guarded group names a registered txlog
# table wins; a failed guard moves on to the next row, and no winner
# falls through to plain Spark SQL.  Order matters where shapes overlap:
# EXPECT before CHECK constraints, upsert MERGE before full MERGE,
# APPLY CHANGES FROM SNAPSHOT before the change-feed form, CTAS before
# the empty CREATE TABLE.
_ROUTES = [
    (_BEGIN_RE, None, Engine._txn_script),
    (_CTAS_TXLOG_RE, None, Engine._ctas_txlog),
    (_MERGE_RE, None, Engine._merge_into),
    (_MERGE_HEAD_RE, None, Engine._merge_into_full),
    (_UPDATE_RE, "target", Engine._update),
    (_DELETE_RE, "target", Engine._delete),
    (_INSERT_OVERWRITE_RE, "target", Engine._insert_overwrite),
    (_CREATE_EMPTY_RE, None, Engine._create_empty),
    (_INSERT_RE, "target", Engine._insert_into),
    (_RESTORE_RE, "target", _commit(lambda t, m: t.restore(
        int(m["version"]) if m["version"] is not None
        else t.version_at_timestamp(Engine._parse_ts_operand(m["ts"]))))),
    (_DETAIL_RE, "target", Engine._detail),
    (_FSCK_RE, "target", Engine._fsck),
    (_VACUUM_RE, "target", Engine._vacuum),
    (_ADD_EXPECTATION_RE, "target", _commit(lambda t, m: t.add_expectation(
        m["name"], m["expr"].strip(),
        (m["viol"] or "warn").split()[0].lower()))),
    (_ADD_CONSTRAINT_RE, "target", _commit(lambda t, m: t.add_constraint(
        m["name"], m["expr"].strip()))),
    # CHECK constraints and expectations share one namespace
    (_DROP_CONSTRAINT_RE, "target", _commit(lambda t, m: (
        t.drop_expectation if m["name"] in t.expectations()
        else t.drop_constraint)(m["name"]))),
    (_RENAME_COLUMN_RE, "target", _commit(lambda t, m: t.rename_column(
        m["old"], m["new"]))),
    (_DROP_COLUMN_RE, "target", _commit(lambda t, m: t.drop_column(
        m["name"]))),
    (_ADD_COLUMN_RE, "target", _commit(lambda t, m: t.add_column(
        m["name"], m["dtype"]))),
    (_ALTER_TYPE_RE, "target", _commit(lambda t, m: t.alter_column_type(
        m["name"], m["dtype"]))),
    (_SET_DEFAULT_RE, "target", _commit(lambda t, m: t.set_column_default(
        m["name"], m["expr"]))),
    (_DROP_DEFAULT_RE, "target", _commit(
        lambda t, m: t.unset_column_default(m["name"]))),
    (_CREATE_MV_RE, "src", Engine._create_mv),
    (_REFRESH_MV_RE, "name", Engine._refresh_mv),
    (_SHOW_MV_RE, None, Engine._show_mvs),
    (_DROP_MV_RE, "name", Engine._drop_mv),
    (_APPLY_SNAPSHOT_RE, "target", Engine._apply_snapshot),
    (_APPLY_CHANGES_RE, "target", Engine._apply_changes_stmt),
    (_GENERATE_RE, "target", Engine._generate),
    (_EXPIRE_SNAPSHOTS_RE, "target", Engine._expire_snapshots),
    (_SHOW_ICEBERG_SNAPSHOTS_RE, "target", Engine._show_iceberg_snapshots),
    (_SHOW_ICEBERG_PLAN_RE, "target", Engine._show_iceberg_plan),
    (_ICEBERG_TAG_RE, "target", Engine._iceberg_tag),
    (_SHOW_ICEBERG_REFS_RE, "target", Engine._show_iceberg_refs),
    (_DROP_FEATURE_RE, "target", _commit(lambda t, m: t.drop_feature(
        m["name"]))),
    (_NOT_NULL_RE, "target", _commit(lambda t, m: (
        t.set_not_null if m["action"].upper() == "SET"
        else t.drop_not_null)(m["name"]))),
    (_CLUSTER_BY_RE, "target", _commit(lambda t, m: t.set_cluster_by(
        _names(m["cols"])))),
    (_SET_PROPS_RE, "target", Engine._set_props),
    (_UNSET_PROPS_RE, "target", _commit(lambda t, m: t.unset_properties(
        [kv["k"] for kv in _PROP_KEY_RE.finditer(m["keys"])]))),
    (_SHOW_PROPS_RE, "target", Engine._show_props),
    (_SHOW_EXPECTATIONS_RE, "target", Engine._show_expectations),
    (_SHOW_EXP_METRICS_RE, "target", Engine._show_exp_metrics),
    (_SHOW_PARTS_RE, "target", Engine._show_partitions),
    (_OPTIMIZE_RE, "target", _commit(lambda t, m: t.optimize_compact(
        zorder_by=_names(m["cols"]),
        where={m["wcol"]: m["wval"]} if m["wcol"] else None))),
    (_REORG_RE, "target", _commit(lambda t, m: t.reorg_purge())),
    (_COPY_INTO_RE, "target", Engine._copy_into),
    (_HISTORY_RE, "target", Engine._history),
    (_CLONE_RE, "src", Engine._clone),
]


class CommandLog:
    """Ordered, exactly-once command apply over a durable log directory.

    `append` writes commands as JSON-lines files into `log_dir`; `replay`
    streams the directory with a file source and applies each command via
    `foreachBatch` under a checkpoint — a restart resumes after the last
    committed batch, applying commands in file/line order.

    Delivery guarantee, precisely: Structured Streaming's foreachBatch is
    at-least-once (a crash between user code and the checkpoint commit
    re-delivers the batch), so every applied statement writes an atomic
    per-(seq, idx) `stmt_*.done` ledger marker and is skipped on any
    later delivery if its marker exists.  The ledger is consulted per
    STATEMENT, not per batch, which closes both at-least-once holes:

    - a crash mid-batch re-delivers the batch, and replay skips exactly
      the statements whose markers committed — each statement applies
      once, except the single statement caught between its execution and
      its marker rename, which re-applies;
    - a lost checkpoint with a surviving ledger re-plans batches with
      different file boundaries (possibly including newly appended
      files); the per-statement ledger applies exactly the delta instead
      of skipping or repeating a whole re-shaped batch.

    Hard exactly-once for that one-statement crash window needs the
    statement execution and the marker in one transaction — i.e. an ACID
    table sink — same caveat as the reference, whose Raft log re-delivers
    to the apply channel on restart because it never persists lastApplied
    (SURVEY.md §2.B).
    """

    def __init__(self, engine: Engine, log_dir: str, checkpoint_dir: str):
        self.engine = engine
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        self.applied_dir = checkpoint_dir + "_applied"
        os.makedirs(log_dir, exist_ok=True)
        os.makedirs(self.applied_dir, exist_ok=True)
        # Next seq = max committed file's seq + 1; leftover .tmp files from
        # a crashed append must not advance it (they are invisible to the
        # stream and will be overwritten by the next append's rename).
        committed = [f for f in os.listdir(log_dir)
                     if f.startswith("cmd_") and f.endswith(".json")]
        self._seq = (
            max(int(f[4:12]) for f in committed) + 1 if committed else 0
        )
        import threading

        self._append_lock = threading.Lock()

    def append(self, *commands: str) -> None:
        # Lock + per-call unique tmp: the RaftWireServer / EngineServer
        # handle RPCs on ThreadingTCPServer threads, so two appends can
        # race — an unsynchronized _seq would hand both the same file
        # name, and a shared ".tmp" path would let one truncate the
        # other's half-written content.
        import uuid as _uuid

        with self._append_lock:
            path = os.path.join(self.log_dir, f"cmd_{self._seq:08d}.json")
            tmp = f"{path}.{_uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                for i, cmd in enumerate(commands):
                    f.write(json.dumps(
                        {"seq": self._seq, "idx": i, "command": cmd}) + "\n")
            os.rename(tmp, path)  # atomic: the stream never sees partials
            self._seq += 1

    def length(self) -> int:
        """Total statements across committed log files (the follower-ack
        figure the raft_wire AppendEntries response reports)."""
        n = 0
        for f in os.listdir(self.log_dir):
            if f.startswith("cmd_") and f.endswith(".json"):
                with open(os.path.join(self.log_dir, f)) as fh:
                    n += sum(1 for line in fh if line.strip())
        return n

    def replay(self, applied: list | None = None) -> list:
        """Drain the log, applying each command once in order.

        Returns the list of (seq, idx, command) actually applied this run
        (already-committed batches are skipped by the checkpoint).
        """
        spark = self.engine.spark
        results = applied if applied is not None else []

        stream = (
            spark.readStream.schema("seq long, idx long, command string")
            .option("maxFilesPerTrigger", "1000")
            .json(self.log_dir)
        )

        def apply_batch(df: DataFrame, batch_id: int) -> None:
            rows = df.orderBy("seq", "idx").collect()
            for r in rows:
                marker = os.path.join(
                    self.applied_dir, f"stmt_{r.seq:08d}_{r.idx:04d}.done")
                if os.path.exists(marker):
                    continue  # ledger says applied: skip on re-delivery
                self.engine.sql(r.command)
                results.append((r.seq, r.idx, r.command))
                tmp = marker + ".tmp"
                with open(tmp, "w") as f:
                    f.write(json.dumps({"seq": r.seq, "idx": r.idx,
                                        "command": r.command}))
                os.rename(tmp, marker)  # atomic: statement committed

        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return results
